"""Multimodal column handling (SURVEY §2.8 E5).

Media assets are opaque ``binary`` payloads + a typed metadata struct.
The engine's job is the Spark-side plumbing: schema, partition-friendly
layout, Arrow-batched Pandas UDF decode/feature-extract. PPM, BMP,
baseline JPEG, PNG and GIF are decoded FOR REAL by the dependency-free
``decode_rgb`` (numpy header parse; JPEG via the Huffman/IDCT decoder
in ``operators.jpeg``, PNG via stdlib-zlib in ``operators.png``, GIF
via the LZW decoder in ``operators.gif``); the remaining codec formats
(RIFF/MP4) raise NotImplementedError at the exact line an ffmpeg call
belongs, gated behind the capability registry so mixed corpora route
around them.

The testdata has no binary table, so ``documents.text`` (utf-8 encoded)
stands in as the payload. The pipeline shape is the real thing:

    payload: binary + meta: struct → mapInPandas(feature_fn) → features

At 100 TB: payloads dominate bytes, so (a) never explode them through a
shuffle — extract features FIRST, then drop the payload column; (b) size
``spark.sql.files.maxPartitionBytes`` so one Arrow batch of payloads
fits executor memory; (c) mapInPandas streams batches, never
materializing a whole partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.registry import query
from .gif import decode_gif as decode_gif_payload
from .gif import decode_gif_frames as decode_gif_frames_payload
from .gif import encode_gif as encode_gif_payload
from .gif import encode_gif_animation
from .jpeg import decode_baseline_jpeg, encode_gray_baseline
from .png import decode_png
from ..sources.io import load_table

from ..session import fan_out_compute, pickle_module_by_value

# Worker closures here reference module-level helpers (decode_rgb): ship
# them by value so executors never need the package on their sys.path.


@query(
    "multimodal_image_phash",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct_texts,
           TRUE AS all_noise_robust,
           TRUE AS phash_respects_equality
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hashing (pHash) over synthesized 32x32 gray images:
    2-D DCT, 8x8 low-frequency block, bits = coefficient > median.
    The image near-dup detector — robust to noise/re-encoding where
    byte hashes are not.

    Driver surface (the float-path summary pattern from the ANN
    queries): the DCT is float work no SQL engine reproduces, so the
    query verifies STRUCTURAL guarantees the oracle can adjudicate:
    ``all_noise_robust`` — every image's hash moves <= 12/64 bits under
    a deterministic +-3 pixel perturbation (computed per image, AND-ed
    by the aggregate); ``phash_respects_equality`` — equal texts give
    equal hashes, so distinct-hash count cannot exceed distinct-text
    count (a theorem for a deterministic hash; the distinct-text count
    is oracle-exact). Scale shape: one mapInPandas pass, hash state 8
    bytes/image, the pairwise-search stage downstream is the same
    banded/bucketed join family as SimHash (64-bit Hamming).
    """
    import numpy as np

    docs = text_docs(spark, sf_dir)

    def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 32
        k = np.arange(n)
        # orthonormal DCT-II matrix
        D = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)) * np.sqrt(2.0 / n)
        D[0, :] /= np.sqrt(2.0)

        def phash(img: "np.ndarray") -> int:
            coef = D @ img @ D.T
            block = coef[:8, :8].flatten()
            med = np.median(block[1:])  # exclude DC
            bits = block > med
            v = 0
            for i, b in enumerate(bits):
                if b:
                    v |= 1 << i
            return v

        for pdf in batches:
            out = {"doc_id": [], "phash": [], "noise_robust": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                buf = text.encode("utf-8")[: n * n]
                img = np.zeros(n * n, dtype=np.float64)
                img[: len(buf)] = np.frombuffer(buf, dtype=np.uint8)
                img = img.reshape(n, n)
                h = phash(img)
                noisy = img.copy()
                # deterministic sparse perturbation: +-3 on 8 pixels
                for j in range(8):
                    r, c = (7 * j + 3) % n, (11 * j + 5) % n
                    noisy[r, c] = min(255.0, max(0.0, noisy[r, c] + (3 if j % 2 else -3)))
                hn = phash(noisy)
                out["doc_id"].append(int(doc_id))
                out["phash"].append(h - (1 << 64) if h >= 1 << 63 else h)
                out["noise_robust"].append(bin(h ^ hn).count("1") <= 12)
            yield pd.DataFrame(out)

    hashed = docs.mapInPandas(
        _phash_batch, schema="doc_id bigint, phash bigint, noise_robust boolean"
    )
    # ONE pass over the DCT output; the distinct-text count comes from a
    # separate cheap scan of docs (never re-running the hashing stage)
    hash_stats = hashed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("phash").alias("n_distinct_phashes"),
        F.min("noise_robust").alias("all_noise_robust"),
    )
    text_stats = docs.agg(F.countDistinct("text").alias("n_distinct_texts"))
    return hash_stats.crossJoin(F.broadcast(text_stats)).select(
        "n_docs",
        "n_distinct_texts",
        "all_noise_robust",
        (F.col("n_distinct_phashes") <= F.col("n_distinct_texts")).alias(
            "phash_respects_equality"
        ),
    )






pickle_module_by_value(__name__)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("header_checksum", LongType()),
    ]
)


def as_media_frame(docs: DataFrame) -> DataFrame:
    """Wrap documents as a multimodal frame: binary payload + metadata
    struct (the schema any image/audio/video table would carry).
    NULL-content rows have no payload to wrap — skipped, the same
    modality-absent choice as ``text_docs`` (never a NULL payload that
    crashes a downstream Python decode on ``bytes(None)``)."""
    docs = docs.filter(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length("text").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents rows that HAVE content, fanned out for codec work.

    NULL-text rows are routine at ingest scale (a row whose text
    modality is absent); they carry nothing for a text-derived codec
    lane, so they are SKIPPED here — the quarantine-adjacent choice —
    rather than crashing a Python mux stage on ``None.encode()``
    (round-5 NULL-corpus robustness class)."""
    return fan_out_compute(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ).select("doc_id", "text")


#: Magic prefixes of codec formats we cannot decode without external
#: libraries — these (and only these) keep the NotImplementedError
#: gate. Every raster format (PPM/BMP/JPEG/PNG/GIF) is decoded for real
#: by ``decode_rgb`` via the dependency-free codec modules.
_CODEC_MAGICS: tuple[tuple[bytes, str], ...] = (
    (b"RIFF", "riff (webp/wav/avi)"),
    (b"\x00\x00\x00", "mp4/iso-bmff"),
)

#: Capability registry: every format this module can NAME, and whether
#: the dependency-free decoder handles it. A 100 TB ingest branches on
#: this instead of discovering a NotImplementedError mid-job: decodable
#: frames flow to the decode stage, the rest to a deferred/quarantine
#: sink with their format label (re-processed once a codec container
#: image is available).
_RASTER_MAGICS: tuple[tuple[bytes, str], ...] = (
    (b"P6", "ppm"),
    (b"BM", "bmp"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG", "png"),
    (b"GIF8", "gif"),
)

#: jpeg=True covers baseline sequential (SOF0) — the overwhelmingly
#: common profile; a progressive payload routed here still fails
#: per-payload with a NAMED NotImplementedError from the jpeg module
#: (magic sniffing cannot see the SOF marker without parsing).
FORMAT_DECODABLE: dict[str, bool] = {
    "ppm": True,
    "bmp": True,
    "jpeg": True,
    "png": True,
    "gif": True,
    # RIFF is sub-typed by its form tag (bytes 9-12): AVI/MJPEG decodes
    # via operators.avi; WAVE is audio (operators.audio owns it — False
    # HERE because this registry gates the IMAGE decode lane); a RIFF
    # payload with any other form tag (WEBP, unknown) stays deferred.
    "avi (mjpeg)": True,
    "wav (riff audio)": False,
    "riff (webp/wav/avi)": False,
    # ISO-BMFF is sub-typed by the fourCC at the stsd sample-entry
    # position in the head OR tail sniff window: MJPEG files
    # ('jpeg'/'mjpa' entries) decode via operators.mp4 whether the moov
    # leads the media (fast-start) or trails it (moov-at-end, the
    # common capture-muxer layout); only true codec gaps (H.264/HEVC/
    # AAC) stay in the deferred lane.
    "mp4 (mjpeg)": True,
    "mp4/iso-bmff": False,
    "unknown": False,
}


def supported_formats() -> frozenset[str]:
    """Formats ``decode_rgb`` actually decodes in this environment."""
    return frozenset(f for f, ok in FORMAT_DECODABLE.items() if ok)


def detect_format_col(payload: Column) -> Column:
    """JVM-side payload sniffing: CASE over binary magic prefixes —
    format routing happens at scan speed with zero Python, so the
    decodable/deferred split below is a metadata-only predicate."""
    expr = F.lit("unknown")
    for magic, fmt in reversed(_RASTER_MAGICS + _CODEC_MAGICS):
        expr = F.when(
            F.substring(payload, 1, len(magic)) == F.lit(bytearray(magic)), fmt
        ).otherwise(expr)
    # RIFF sub-typing: the form tag at bytes 9-12 names the real format
    # (AVI vs WAVE vs other); more specific, so it wins over the generic
    # RIFF label above.
    riff = F.substring(payload, 1, 4) == F.lit(bytearray(b"RIFF"))
    form = F.substring(payload, 9, 4)
    # ISO-BMFF sub-typing: 'ftyp' at bytes 5-8 names the family; the
    # MJPEG lane additionally needs the stsd box's FIRST sample entry to
    # carry an MJPEG fourCC ('jpeg'/'mjpa'). Structural, not substring-
    # anywhere: stsd layout is [u32 size]['stsd'][u32 ver/flags]
    # [u32 entry_count][u32 entry size][entry fourCC], so the codec
    # fourCC sits exactly 16 bytes after the 'stsd' tag — a 'jpeg'
    # string floating in early mdat/metadata no longer routes here
    # (and decode_or_defer additionally reroutes any row whose decode
    # still fails, so a pathological false positive degrades to the
    # deferred lane, never a job abort). Checked over the FIRST 4 KB
    # (fast-start: moov right after ftyp puts stsd in the first few
    # hundred bytes — stsd PRECEDES the frame-count-proportional
    # stsz/stco tables inside stbl) and the LAST 64 KB (moov-at-end,
    # the layout most capture muxers write: here stsd sits ABOVE those
    # tables, ~16 bytes/frame of stsz+stco between it and EOF, so 64 KB
    # reaches stsd for videos up to ~4000 frames). Both O(window),
    # JVM-side; ISO-8859-1 decode is byte-preserving so locate/
    # substring index the raw bytes. Longer-still moov-at-end files
    # conservatively stay deferred.
    bmff = F.substring(payload, 5, 4) == F.lit(bytearray(b"ftyp"))

    def _stsd_mjpeg(window: Column) -> Column:
        s = F.decode(window, "ISO-8859-1")
        # The real stsd box lives INSIDE moov. A tail window that begins
        # inside mdat can carry a coincidental 'stsd' byte run in JPEG
        # entropy data BEFORE the real box — anchoring on the FIRST
        # occurrence would read garbage fourCC and silently defer a
        # decodable file (false negative; the decode_or_defer reroute
        # only degrades false POSITIVES safely). Two independent anchors,
        # either may route: (a) the first 'stsd' after the 'moov' tag —
        # mdat bytes precede moov, so they cannot shadow it; (b) the
        # LAST 'stsd' in the window — a shadow after the real box would
        # need a second coincidence inside the stbl tables.
        m = F.locate("moov", s)
        after = F.substring(s, m + 4, F.length(s))
        pa = F.locate("stsd", after)
        cand_moov = (
            (m > 0) & (pa > 0)
            & F.substring(after, pa + 16, 4).isin("jpeg", "mjpa")
        )
        r = F.locate("dsts", F.reverse(s))
        p_last = F.length(s) - r - F.lit(2)
        cand_last = (r > 0) & F.substring(s, p_last + 16, 4).isin("jpeg", "mjpa")
        return cand_moov | cand_last

    _TAIL = 65536
    head = F.substring(payload, 1, 4096)
    tail_pos = F.greatest(F.octet_length(payload) - F.lit(_TAIL - 1), F.lit(1))
    tail = F.substring(payload, tail_pos, F.lit(_TAIL))
    mjpeg_entry = _stsd_mjpeg(head) | _stsd_mjpeg(tail)
    return (
        F.when(riff & (form == F.lit(bytearray(b"AVI "))), "avi (mjpeg)")
        .when(riff & (form == F.lit(bytearray(b"WAVE"))), "wav (riff audio)")
        .when(bmff & mjpeg_entry, "mp4 (mjpeg)")
        .when(bmff, "mp4/iso-bmff")
        .otherwise(expr)
    )


def route_media(media: DataFrame) -> DataFrame:
    """Adds ``format`` (sniffed magic) and ``decodable`` (capability
    registry lookup) columns. Downstream: ``filter(decodable)`` →
    decode stage; ``filter(~decodable)`` → deferred sink.

    ``decodable`` references the ``format`` ATTRIBUTE from the first
    projection rather than re-embedding the sniff expression per
    registry entry — inlining duplicated the whole head+tail CASE
    ~8×, blowing generated code past janino's method limits and
    forcing a whole-stage-codegen fallback (observed r5)."""
    routed = media.withColumn("format", detect_format_col(F.col("payload")))
    return routed.withColumn(
        "decodable", F.col("format").isin(*sorted(supported_formats()))
    )


#: Persisted attempted-decode lanes awaiting release (see
#: decode_or_defer / release_decode_caches).
_DECODE_CACHES: list[DataFrame] = []


def release_decode_caches() -> int:
    """Unpersist every attempted-decode cache created by
    :func:`decode_or_defer` since the last release. Returns the count.

    The caches exist so each corpus is decoded once, not twice; they
    can only be dropped AFTER both the decoded and deferred outputs are
    consumed, which is the caller's knowledge, not this module's —
    sweep/bench loops call this between queries so a 368-query session
    never accumulates per-query caches."""
    n = len(_DECODE_CACHES)
    while _DECODE_CACHES:
        _DECODE_CACHES.pop().unpersist()
    return n


def decode_or_defer(media: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The mixed-corpus decode topology: returns ``(decoded, deferred)``.
    ``decoded`` runs the REAL decoder over rows whose sniffed format is
    in ``supported_formats()``; ``deferred`` carries (doc_id, format)
    for everything else. Two independent guards keep a mixed corpus
    from aborting mid-job: (1) the routing predicate is evaluated
    JVM-side before any Python decode, and (2) the decode lane itself
    catches per-row decode failures (a sniff false positive, a
    malformed payload) and REROUTES those rows into the deferred lane
    with their sniffed format — quarantine semantics, never a raise.
    The attempted lane is persisted because both outputs reference it
    (one codec pass, not two); at 100 TB the same persist-or-restage
    choice applies and the decode cost dominates either way. The cache
    cannot be unpersisted here — both outputs are still lazy — so it is
    recorded in a module registry; sweep/bench drivers (and any caller
    that loops over corpora) call :func:`release_decode_caches` once the
    outputs are consumed, bounding cache growth to one corpus pass."""
    routed = route_media(media)
    err_schema = StructType(
        DECODE_SCHEMA.fields + [StructField("format", StringType()),
                                StructField("error", StringType())]
    )

    def _decode_safe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in err_schema.fields}
            for doc_id, payload, fmt in zip(
                pdf["doc_id"], pdf["payload"], pdf["format"]
            ):
                row = dict.fromkeys(out)
                row["doc_id"], row["format"] = doc_id, fmt
                try:
                    img = decode_rgb(bytes(payload))
                    means = img.reshape(-1, 3).mean(axis=0)
                    row.update(
                        width=img.shape[1], height=img.shape[0],
                        mean_r=float(means[0]), mean_g=float(means[1]),
                        mean_b=float(means[2]),
                    )
                except Exception as exc:  # noqa: BLE001 — quarantine lane:
                    # ANY per-row decode failure (named codec gates,
                    # malformed headers, and the long tail a bit-flipped
                    # payload can reach inside a codec — IndexError in a
                    # Huffman table, zlib.error, struct.error) must
                    # quarantine the ROW, never abort the JOB; the
                    # error text is preserved on the attempted lane.
                    row["error"] = f"{type(exc).__name__}: {exc}"
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    attempted = (
        routed.filter(F.col("decodable"))
        .select("doc_id", "payload", "format")
        .mapInPandas(_decode_safe, schema=err_schema)
        .persist()
    )
    _DECODE_CACHES.append(attempted)
    decoded = attempted.filter(F.col("error").isNull()).select(
        *[f.name for f in DECODE_SCHEMA.fields]
    )
    deferred = (
        routed.filter(~F.col("decodable"))
        .select("doc_id", "format")
        .unionByName(
            attempted.filter(F.col("error").isNotNull()).select("doc_id", "format")
        )
    )
    return decoded, deferred


def decode_rgb(payload: bytes) -> "object":
    """Dependency-free image decode: payload bytes → HxWx3 uint8 array.

    Supports the three formats a test/ingest corpus can carry without
    codec libraries:

    - **P6 PPM** (binary PPM: ``P6\\n<w> <h>\\n<maxval>\\n`` + raw RGB) —
      truncated pixel buffers are zero-padded, the streaming-safe choice.
    - **Uncompressed 24-bit BMP** (``BM`` magic, BI_RGB): BGR rows,
      4-byte-aligned, stored bottom-up — converted to top-down RGB.
    - **Baseline JPEG** (SOF0, 8-bit, gray/YCbCr, restart intervals) via
      the numpy-only decoder in ``operators.jpeg``; progressive and the
      other rare SOF modes raise a NAMED NotImplementedError there.

    - **PNG** (every legal depth/color combination incl. 16-bit,
      sub-byte and Adam7) via the stdlib-zlib decoder in
      ``operators.png``.

    - **GIF** (87a/89a, interlace, local tables, transparency, first
      frame of animations) via the LZW decoder in ``operators.gif``.

    - **AVI/MJPEG** (RIFF form 'AVI ') via ``operators.avi`` — returns
      the FIRST video frame, mirroring the GIF-animation convention.

    - **MP4/MJPEG** (ISO-BMFF with 'jpeg'/'mjpa' sample entries, either
      fast-start or moov-at-end layout) via ``operators.mp4`` — first
      frame, same convention.

    Remaining codec formats (RIFF-WAVE/WEBP, non-MJPEG MP4) raise
    ``NotImplementedError`` naming the detected format; anything else
    raises ``ValueError``.
    """
    import re

    import numpy as np

    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from .avi import decode_avi_frames

        _meta, frames = decode_avi_frames(payload)
        if not frames:
            raise ValueError("AVI container with no video frames")
        return frames[0]
    if payload[4:8] == b"ftyp":
        # MJPEG-in-MP4 decodes for real (first frame, the GIF/AVI
        # convention); other codecs raise NAMED from parse_mp4_samples
        # — routing (detect_format_col) keeps them off this path.
        from .mp4 import decode_mp4_frames

        _meta, frames = decode_mp4_frames(payload)
        if not frames:
            raise ValueError("MP4 container with no video samples")
        return frames[0]
    for magic, fmt in _CODEC_MAGICS:
        if payload.startswith(magic):
            raise NotImplementedError(
                f"payload is {fmt}: decoding needs a codec library "
                "(PIL/ffmpeg) not present in this environment"
            )
    if payload.startswith(b"\xff\xd8\xff"):
        return decode_baseline_jpeg(payload)
    if payload.startswith(b"\x89PNG"):
        return decode_png(payload)
    if payload.startswith(b"GIF8"):
        return decode_gif_payload(payload)
    if payload.startswith(b"P6"):
        m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
        if not m:
            raise ValueError("malformed P6 PPM header")
        w, h, maxval = (int(g) for g in m.groups())
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        pixels = np.frombuffer(payload, np.uint8, offset=m.end())
        need = w * h * 3
        if len(pixels) < need:  # tolerate truncation: zero-pad
            pixels = np.concatenate([pixels, np.zeros(need - len(pixels), np.uint8)])
        return pixels[:need].reshape(h, w, 3)
    if payload.startswith(b"BM"):
        import struct as _struct

        off, = _struct.unpack_from("<I", payload, 10)
        w, h = _struct.unpack_from("<ii", payload, 18)
        bpp, = _struct.unpack_from("<H", payload, 28)
        comp, = _struct.unpack_from("<I", payload, 30)
        if bpp != 24 or comp != 0:
            raise NotImplementedError("only uncompressed 24-bit BMP is supported")
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        rows = np.frombuffer(payload, np.uint8, count=stride * abs(h), offset=off)
        img = rows.reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
        if h > 0:  # positive height = bottom-up storage
            img = img[::-1]
        return img[:, :, ::-1].copy()  # BGR -> RGB
    raise ValueError(f"unrecognized payload magic {payload[:4]!r}")


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """REAL decode stage: mapInPandas over binary payloads → per-image
    dimensions and channel means via ``decode_rgb``. Same Arrow-batched
    shape as the stub path; payloads never cross a shuffle — features
    come out, bytes stay at the scan."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "width": [], "height": [],
                   "mean_r": [], "mean_g": [], "mean_b": []}
            for payload in pdf["payload"]:
                img = decode_rgb(bytes(payload))
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                means = img.reshape(-1, 3).mean(axis=0)
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=DECODE_SCHEMA)


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` receives an iterator of pandas batches — the decode
    loop is vectorized per batch and payloads stream through without
    materializing a partition. With ``decode_stub=False`` payloads are
    decoded for real via ``decode_rgb`` (PPM/BMP; codec formats raise
    inside it) and ``mean_byte`` becomes the mean decoded pixel value.
    """

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub:
                payloads = pdf["payload"]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": payloads.map(len).astype("int64"),
                        "mean_byte": payloads.map(
                            lambda b: float(decode_rgb(bytes(b)).mean())
                        ),
                        "header_checksum": payloads.map(
                            lambda b: int(sum(b[:16]) % 65536)
                        ).astype("int64"),
                    }
                )
                continue
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    # Deterministic fake "decode": per-payload byte mean
                    # and a checksum of the first 16 bytes ("header").
                    "mean_byte": payloads.map(
                        lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                    ),
                    "header_checksum": payloads.map(
                        lambda b: int(sum(b[:16]) % 65536)
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(_features, schema=FEATURE_SCHEMA)


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           strlen(text) AS n_bytes,
           ROUND(list_sum(list_transform(split(text, ''), c -> unicode(c))) * 1.0
                 / strlen(text), 4) AS mean_byte
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: binary payload → mapInPandas feature extraction (byte length,
    mean byte value). The oracle recomputes both from the text — valid
    because the corpus is ASCII, so bytes == code points."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(as_media_frame(docs))
    return feats.select("doc_id", "n_bytes", F.round("mean_byte", 4).alias("mean_byte"))


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(ceil(len(string_split_regex(trim(text), '\\s+')) / 8.0)::BIGINT)) * 8 AS INT)
             AS frame_idx,
           unnest(list_select(string_split_regex(trim(text), '\\s+'),
                              list_filter(range(1, len(string_split_regex(trim(text), '\\s+')) + 1),
                                          i -> (i - 1) % 8 = 0))) AS frame
    FROM documents WHERE doc_id < 50
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: frame sampling — every 8th 'frame' of an opaque media stream
    (tokens stand in for decoded video frames). posexplode + modulo
    filter; the real pipeline applies the same shape after a mapInPandas
    decode, sampling before any shuffle so dropped frames never move."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    frames = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "frame"),
    )
    return frames.filter(F.col("pos") % 8 == 0).select(
        "doc_id", F.col("pos").cast("int").alias("frame_idx"), "frame"
    )


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id, 'text/plain' AS mime, strlen(text) AS n_bytes, source AS origin
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: typed metadata struct projection (struct build + field access
    without touching the payload bytes — column pruning drops the binary
    column from the scan entirely; check ReadSchema in .explain)."""
    docs = load_table(spark, sf_dir, "documents")
    media = as_media_frame(docs)
    return media.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.origin").alias("origin"),
    )


#: Stub "resolution": resized payloads are exactly this many bytes.
RESIZE_TARGET = 4096

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", LongType()),
        StructField("resized", BinaryType()),
        StructField("resized_mean_byte", DoubleType()),
    ]
)


def resize_payload(media: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """Resize plumbing: every payload leaves at exactly ``target`` bytes
    (crop, or zero-pad short ones) — the stub stand-in for a real
    image/audio resample, with the Spark-side shape (mapInPandas over
    binary, fixed-size output) identical to what a PIL/ffmpeg branch
    would need. Fixed-size outputs are what make downstream training
    batches packable without ragged buffers.

    The per-item QA stat (mean byte of the resized buffer) is computed
    in the SAME Arrow pass via numpy while the bytes are already in
    Python memory — not as a second JVM↔Python crossing or a per-row
    JVM array fold downstream."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            resized = payloads.map(
                lambda b: bytes(b[:target]) + b"\x00" * max(0, target - len(b))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": payloads.map(len).astype("int64"),
                    "resized": resized,
                    "resized_mean_byte": resized.map(
                        lambda b: float(np.frombuffer(b, np.uint8).sum()) / target
                    ),
                }
            )

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           strlen(text) AS orig_bytes,
           {RESIZE_TARGET} AS resized_bytes,
           ROUND(list_sum(list_transform(split(substr(text, 1, {RESIZE_TARGET}), ''),
                                         c -> unicode(c))) * 1.0 / {RESIZE_TARGET}, 4)
             AS resized_mean_byte
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: resize/resample plumbing — crop-or-pad every payload to
    RESIZE_TARGET bytes in one Arrow pass, verified by the mean byte of
    the resized buffer (zero padding dilutes the mean exactly as the
    oracle's /TARGET division does; ASCII corpus ⇒ bytes == code
    points)."""
    docs = load_table(spark, sf_dir, "documents")
    resized = resize_payload(as_media_frame(docs))
    return resized.select(
        "doc_id",
        "orig_bytes",
        F.octet_length("resized").alias("resized_bytes"),
        F.round("resized_mean_byte", 4).alias("resized_mean_byte"),
    )


#: Fixed raster geometry for the PPM decode query: 32x16 RGB = 1536 bytes.
_PPM_W, _PPM_H = 32, 16
_PPM_BYTES = _PPM_W * _PPM_H * 3


@query(
    "multimodal_decode_ppm",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(split(substr(text, 1, {_PPM_BYTES}), ''),
                            c -> unicode(c)) AS codes
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, {_PPM_W} AS width, {_PPM_H} AS height,
           ROUND(COALESCE(list_sum(list_select(codes,
                 list_filter(range(1, {_PPM_BYTES + 1}, 3), i -> i <= len(codes)))), 0)
                 / {_PPM_W * _PPM_H}.0, 4) AS mean_r,
           ROUND(COALESCE(list_sum(list_select(codes,
                 list_filter(range(2, {_PPM_BYTES + 1}, 3), i -> i <= len(codes)))), 0)
                 / {_PPM_W * _PPM_H}.0, 4) AS mean_g,
           ROUND(COALESCE(list_sum(list_select(codes,
                 list_filter(range(3, {_PPM_BYTES + 1}, 3), i -> i <= len(codes)))), 0)
                 / {_PPM_W * _PPM_H}.0, 4) AS mean_b
    FROM b
    """,
)
def q_multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 REAL decode path (no stub): build a valid binary P6 PPM per
    document JVM-side (header + text bytes as the pixel buffer, decoder
    zero-pads short images), then ``decode_media`` header-parses and
    numpy-decodes each payload in one Arrow pass, emitting dimensions and
    per-channel means. The oracle recomputes the channel means straight
    from the text codepoints (ASCII corpus ⇒ bytes == code points;
    padded positions contribute zero to a fixed /W*H denominator)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.encode(F.lit(f"P6\n{_PPM_W} {_PPM_H}\n255\n"), "utf-8"),
        F.encode(F.substring("text", 1, _PPM_BYTES), "utf-8"),
    )
    # NULL-content rows have no image to build (modality absent — skip)
    media = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", payload.alias("payload")
    )
    decoded = decode_media(media)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@query(
    "multimodal_mixed_routing",
    oracle="""
    SELECT doc_id,
           -- a NULL-text row muxes to a NULL payload: the router keeps the
           -- row (quarantine semantics account for EVERY input row) and
           -- sniffs it 'unknown' — format is stripe-based only when a
           -- payload exists
           CASE WHEN text IS NULL THEN 'unknown'
                ELSE CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'ppm' WHEN 1 THEN 'mp4/iso-bmff'
                     WHEN 2 THEN 'riff (webp/wav/avi)' ELSE 'unknown' END
           END AS format,
           text IS NOT NULL AND doc_id % 4 = 0 AS decodable,
           CASE WHEN text IS NOT NULL AND doc_id % 4 = 0
                THEN CAST(32 AS BIGINT) END AS width,
           CASE WHEN text IS NOT NULL AND doc_id % 4 = 0
                THEN CAST(16 AS BIGINT) END AS height
    FROM documents
    """,
)
def q_multimodal_mixed_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 mixed-format corpus end-to-end: each document becomes a PPM /
    MP4-magic / RIFF-magic / raw payload by doc_id stripe, then
    ``decode_or_defer`` routes by the capability registry — PPMs are
    REALLY decoded (width/height from the numpy decoder), MP4/RIFF and
    unknown payloads land in the deferred lane with their sniffed
    format and NULL geometry. Proves no payload can reach the
    NotImplementedError gate on a mixed corpus: the gate is a JVM-side
    routing predicate, the quarantine lane is a first-class output.
    (JPEG/PNG/GIF sit in the DECODABLE lane since their dependency-free
    decoders landed — the pytest mixed-corpus test and the
    ``multimodal_decode_*`` round-trip queries drive real encoded
    payloads through that lane.)"""
    docs = load_table(spark, sf_dir, "documents")
    stripe = (F.col("doc_id") % 4).cast("int")
    payload = (
        F.when(
            stripe == 0,
            F.concat(
                F.encode(F.lit(f"P6\n{_PPM_W} {_PPM_H}\n255\n"), "utf-8"),
                F.encode(F.substring("text", 1, _PPM_BYTES), "utf-8"),
            ),
        )
        .when(
            stripe == 1,
            F.concat(F.lit(bytearray(b"\x00\x00\x00")), F.encode("text", "utf-8")),
        )
        .when(
            stripe == 2,
            F.concat(F.lit(bytearray(b"RIFF")), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
    )
    media = docs.select("doc_id", payload.alias("payload"))
    decoded, deferred = decode_or_defer(media)
    decoded_side = decoded.select(
        "doc_id", F.lit("ppm").alias("format"), F.lit(True).alias("decodable"),
        "width", "height",
    )
    deferred_side = deferred.select(
        "doc_id", "format", F.lit(False).alias("decodable"),
        F.lit(None).cast("long").alias("width"), F.lit(None).cast("long").alias("height"),
    )
    return decoded_side.unionByName(deferred_side)


#: Fixed geometry for the JPEG round-trip query: 8x16 gray = 128 bytes.
_JPG_W, _JPG_H = 16, 8


@query(
    "multimodal_decode_jpeg",
    oracle=f"""
    SELECT doc_id, {_JPG_W} AS width, {_JPG_H} AS height,
           TRUE AS roundtrip_ok
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 REAL codec round-trip through the driver pipeline: per
    document, build an 8x16 grayscale image from the text's first 128
    bytes, ENCODE it to a real baseline JPEG (``encode_gray_baseline``
    — Huffman + DCT, all-ones quant), then DECODE through the same
    ``decode_rgb`` dispatch every ingest payload takes, all in one
    Arrow batch pass. Emits the decoded geometry (oracle-exact) and
    pins the near-lossless round-trip bound (max pixel error ≤ 4 at
    quant=1; measured ≤ 1). The encoder is engine code; the pytest
    round-trips use an INDEPENDENT spec-derived encoder so the two
    cannot cancel out."""
    import numpy as np

    docs = text_docs(spark, sf_dir)
    n = _JPG_W * _JPG_H

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, oks = [], [], []
            for text in pdf["text"]:
                raw = text.encode("utf-8")[:n]
                buf = np.zeros(n, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                img = buf.reshape(_JPG_H, _JPG_W)
                out = decode_rgb(encode_gray_baseline(img))
                widths.append(out.shape[1])
                heights.append(out.shape[0])
                err = int(np.max(np.abs(out[:, :, 0].astype(int) - img.astype(int))))
                oks.append(bool(err <= 4))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "width": widths, "height": heights,
                 "roundtrip_ok": oks}
            )

    return docs.mapInPandas(
        _roundtrip, schema="doc_id long, width int, height int, roundtrip_ok boolean"
    )


#: Fixed geometry for the GIF round-trip query: 8x16 indices = 128 bytes.
_GIF_W, _GIF_H = 16, 8


@query(
    "multimodal_decode_gif",
    oracle=f"""
    SELECT doc_id, {_GIF_W} AS width, {_GIF_H} AS height,
           TRUE AS lossless_ok,
           CAST(COALESCE(list_sum(list_transform(
                    list_filter(split(substr(text, 1, {_GIF_W * _GIF_H}), ''),
                                c -> c <> ''),
                    c -> unicode(c))), 0) AS BIGINT) AS sum_red
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 third codec round-trip: per document, build an 8x16 image from
    the text's first 128 bytes over an identity 256-gray palette, ENCODE
    it to a real GIF (dictionary LZW; odd doc_ids interlaced so the
    deinterlace path runs under the driver oracle too), then DECODE
    through the same ``decode_rgb`` dispatch every ingest payload takes,
    all in one Arrow batch pass. GIF is lossless, so full pixel equality
    is pinned TRUE and the decoded red-channel sum is oracle-exact
    (ASCII corpus ⇒ text bytes == code points; zero padding adds 0)."""
    import numpy as np

    docs = text_docs(spark, sf_dir)
    n = _GIF_W * _GIF_H

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        for pdf in batches:
            widths, heights, oks, sums = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")[:n]
                buf = np.zeros(n, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                idx = buf.reshape(_GIF_H, _GIF_W)
                payload = encode_gif_payload(idx, gray, interlace=bool(doc_id % 2))
                out = decode_rgb(payload)
                widths.append(out.shape[1])
                heights.append(out.shape[0])
                oks.append(bool((out == gray[idx]).all()))
                sums.append(int(out[:, :, 0].sum(dtype=np.int64)))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "width": widths, "height": heights,
                 "lossless_ok": oks, "sum_red": sums}
            )

    return docs.mapInPandas(
        _roundtrip,
        schema="doc_id long, width int, height int, lossless_ok boolean, sum_red long",
    )


#: Geometry for the animated-GIF "video" query: 6 frames of 8x8 = 64
#: bytes each, sampled every 2nd frame.
_VID_W = _VID_H = 8
_VID_FRAMES, _VID_STEP = 6, 2


@query(
    "multimodal_video_frames",
    oracle=f"""
    SELECT d.doc_id, {_VID_FRAMES} AS n_frames,
           CAST(k.k AS INT) AS frame_idx,
           -- list_filter drops the '' that split('') yields on docs
           -- shorter than the frame offset (unicode('') is -1 in DuckDB)
           CAST(COALESCE(list_sum(list_transform(
                    list_filter(split(substr(d.text, {_VID_W * _VID_H} * k.k + 1,
                                             {_VID_W * _VID_H}), ''),
                                c -> c <> ''),
                    c -> unicode(c))), 0) AS BIGINT) AS frame_sum
    FROM documents d, (SELECT unnest(range(0, {_VID_FRAMES}, {_VID_STEP})) AS k) k
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 VIDEO-style modality end-to-end on the one multi-frame format
    decodable without codec libraries: per document, build a 6-frame
    animated GIF (frame k = the text's bytes [64k, 64k+64) over an
    identity gray palette), ENCODE it with per-frame graphic control
    extensions, DECODE the whole animation back (full disposal/GCE
    semantics in ``gif.decode_gif_frames``), then FRAME-SAMPLE every
    2nd decoded frame — the classic video ingest shape (decode →
    temporal subsample → per-frame features), all inside one Arrow
    batch pass so frame pixels never shuffle. The oracle recomputes
    each sampled frame's exact pixel sum from the text code points."""
    import numpy as np

    docs = text_docs(spark, sf_dir)
    fbytes = _VID_W * _VID_H
    total = fbytes * _VID_FRAMES

    def _video(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "frame_idx": [], "frame_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                frames = [
                    buf[k * fbytes : (k + 1) * fbytes].reshape(_VID_H, _VID_W)
                    for k in range(_VID_FRAMES)
                ]
                payload = encode_gif_animation(frames, gray)
                decoded = decode_gif_frames_payload(payload)
                assert len(decoded) == _VID_FRAMES
                for k in range(0, _VID_FRAMES, _VID_STEP):
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(len(decoded))
                    out["frame_idx"].append(k)
                    out["frame_sum"].append(
                        int(decoded[k][:, :, 0].sum(dtype=np.int64))
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _video, schema="doc_id long, n_frames int, frame_idx int, frame_sum long"
    )


#: Sample rate for the WAV round-trip query below.
_WAV_SR = 8000


@query(
    "multimodal_audio_wav",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(split(text, ''), c -> unicode(c)) AS codes,
             CAST(strlen(text) // 2 AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(1, CAST(n AS INT) + 1),
               i -> CASE WHEN codes[2*i-1] + 256*codes[2*i] >= 32768
                         THEN codes[2*i-1] + 256*codes[2*i] - 65536
                         ELSE codes[2*i-1] + 256*codes[2*i] END) AS smp
      FROM b
    )
    SELECT doc_id, {_WAV_SR} AS sample_rate, n AS n_samples,
           CAST(n AS DOUBLE) / {_WAV_SR}.0 AS duration_sec,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(floor(sqrt(CAST(list_sum(list_transform(smp,
                                       x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS DOUBLE)
                                     / CAST(n AS DOUBLE)) * 10000 + 0.5) AS BIGINT) / 10000.0
           END AS rms,
           CAST(COALESCE(list_max(list_transform(smp, x -> abs(x))), 0) AS BIGINT) AS peak
    FROM s
    """,
)
def q_multimodal_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 AUDIO modality end-to-end: per document, interpret the text's
    byte pairs as little-endian PCM16 samples, ENCODE a canonical
    RIFF/WAVE container (``audio.encode_wav_pcm16``), DECODE it back
    through the real WAV parser (``audio.decode_wav``), and extract the
    features a training pipeline filters on — duration, RMS loudness
    (exact integer sum of squares → one division + sqrt, floor-rounded
    so both engines agree bit-for-bit), absolute peak — all in one
    Arrow batch pass. The oracle recomputes every feature straight from
    the text code points (ASCII corpus ⇒ bytes == code points)."""
    import math

    from .audio import encode_wav_pcm16, wav_features

    docs = text_docs(spark, sf_dir)

    def _audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "sample_rate": [], "n_samples": [],
                   "duration_sec": [], "rms": [], "peak": []}
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                raw = raw[: (len(raw) // 2) * 2]
                samples = np.frombuffer(raw, "<i2") if raw else np.zeros(0, "<i2")
                payload = encode_wav_pcm16(samples, _WAV_SR)
                f = wav_features(payload)
                out["sample_rate"].append(f["sample_rate"])
                out["n_samples"].append(f["n_samples"])
                out["duration_sec"].append(f["duration_sec"])
                out["rms"].append(math.floor(f["rms"] * 10000 + 0.5) / 10000.0)
                out["peak"].append(f["peak"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _audio,
        schema="doc_id long, sample_rate int, n_samples long, "
        "duration_sec double, rms double, peak long",
    )


#: Geometry for the AVI/MJPEG round-trip query: 4 frames of 16x8 gray,
#: sampled every 2nd frame, 10 fps.
_AVI_W, _AVI_H, _AVI_FRAMES, _AVI_STEP, _AVI_FPS = 16, 8, 4, 2, 10


@query(
    "multimodal_video_avi_mjpeg",
    oracle=f"""
    SELECT d.doc_id, f.frame_idx,
           {_AVI_FRAMES} AS n_frames, {_AVI_W} AS width, {_AVI_H} AS height,
           {_AVI_FPS} AS fps, TRUE AS frame_ok
    FROM documents d, (VALUES (0), (2)) f(frame_idx)
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_video_avi_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 VIDEO modality through a REAL container+codec pair: per
    document, build 4 grayscale frames from the text bytes, encode each
    to a baseline JPEG, wrap them in a spec-correct RIFF/AVI container
    with an idx1 index (``avi.encode_avi_mjpeg``), then run the full
    ingest path — container parse (header/index cross-check), temporal
    subsample (every 2nd frame), and per-frame MJPEG decode — inside
    one Arrow batch pass, so neither
    container bytes nor pixels ever shuffle. Emits the container
    metadata (frame count, geometry, fps — all oracle-exact from the
    parsed avih/strh headers) and pins the per-frame near-lossless
    round-trip bound (max pixel error ≤ 4 at quant=1, as in
    ``multimodal_decode_jpeg``). MJPEG's frame independence is the
    100 TB story: decode parallelizes at frame granularity with zero
    inter-frame state."""
    import numpy as np

    from .avi import decode_avi_frames, encode_avi_mjpeg

    docs = text_docs(spark, sf_dir)
    fbytes = _AVI_W * _AVI_H
    total = fbytes * _AVI_FRAMES
    w, h, n_frames, step, fps = _AVI_W, _AVI_H, _AVI_FRAMES, _AVI_STEP, _AVI_FPS

    enc = encode_gray_baseline

    def _video(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_frames": [], "width": [],
                   "height": [], "fps": [], "frame_ok": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                srcs = [
                    buf[k * fbytes : (k + 1) * fbytes].reshape(h, w)
                    for k in range(n_frames)
                ]
                payload = encode_avi_mjpeg([enc(s) for s in srcs], w, h, fps)
                meta, frames = decode_avi_frames(payload)
                assert meta["stream_frames"] == n_frames
                for k in range(0, n_frames, step):
                    err = int(
                        np.max(np.abs(frames[k][:, :, 0].astype(int) - srcs[k].astype(int)))
                    )
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["n_frames"].append(meta["n_frames"])
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["fps"].append(meta["fps"])
                    out["frame_ok"].append(bool(err <= 4))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _video,
        schema="doc_id long, frame_idx int, n_frames int, width int, "
        "height int, fps int, frame_ok boolean",
    )


#: Geometry for the MP4/MJPEG round-trip query: 3 frames of 24x8 gray,
#: 12 fps — distinct from the AVI query's so a shared container bug
#: can't make the two cancel out.
_MP4_W, _MP4_H, _MP4_FRAMES, _MP4_FPS = 24, 8, 3, 12


@query(
    "multimodal_decode_mp4_frames",
    oracle=f"""
    SELECT d.doc_id, f.frame_idx,
           {_MP4_FRAMES} AS n_frames, {_MP4_W} AS width, {_MP4_H} AS height,
           {_MP4_FPS} AS fps, 'jpeg' AS codec,
           'mp4 (mjpeg)' AS format, TRUE AS frame_ok
    FROM documents d, (VALUES (0), (1), (2)) f(frame_idx)
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_decode_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 VIDEO through the ISO-BMFF lane (round-4 close of the
    RIFF/MP4 deferred gap): per document, build 3 grayscale frames from
    the text bytes, JPEG-encode each, mux them into a spec-real
    fast-start MP4 — full stsd/stts/stsc/stsz/stco sample tables
    (``mp4.encode_mp4_mjpeg``) — then run the full ingest path: the
    capability registry sub-types the payload (``detect_format_col`` →
    'mp4 (mjpeg)', pinned in the output so routing is part of the
    verified surface), ``mp4.parse_mp4_samples`` expands the sample
    tables (stsc chunk mapping, absolute stco offsets), and every
    sample decodes through the baseline JPEG decoder — all inside one
    Arrow batch pass, so neither container bytes nor pixels ever
    shuffle. Emits the parsed geometry/fps/codec (oracle-exact from the
    sample tables) and pins the near-lossless round-trip bound (max
    pixel error ≤ 4 at quant=1, as in ``multimodal_decode_jpeg``).
    Like MJPEG-in-AVI, sample independence is the 100 TB story: decode
    parallelizes at frame granularity with zero inter-frame state."""
    import numpy as np

    from .mp4 import decode_mp4_frames, encode_mp4_mjpeg

    docs = text_docs(spark, sf_dir)
    w, h, n_frames, fps = _MP4_W, _MP4_H, _MP4_FRAMES, _MP4_FPS
    fbytes = w * h
    total = fbytes * n_frames
    enc = encode_gray_baseline

    def _mux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                payloads.append(
                    encode_mp4_mjpeg(
                        [enc(buf[k * fbytes : (k + 1) * fbytes].reshape(h, w))
                         for k in range(n_frames)],
                        w, h, fps,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text": pdf["text"], "payload": payloads}
            )

    media = docs.mapInPandas(_mux, schema="doc_id long, text string, payload binary")
    # Routing runs the REAL registry sniff (JVM-side CASE over the
    # payload bytes) between mux and decode, per row — the sniffed
    # label rides into the verified output, so 'mp4 (mjpeg)' routing
    # is part of the oracle surface, not just a unit test.
    routed = media.withColumn("format", detect_format_col(F.col("payload")))

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_frames": [], "width": [],
                   "height": [], "fps": [], "codec": [], "format": [],
                   "frame_ok": []}
            for doc_id, text, payload, fmt in zip(
                pdf["doc_id"], pdf["text"], pdf["payload"], pdf["format"]
            ):
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                srcs = [
                    buf[k * fbytes : (k + 1) * fbytes].reshape(h, w)
                    for k in range(n_frames)
                ]
                meta, frames = decode_mp4_frames(bytes(payload))
                for k, (frame, src) in enumerate(zip(frames, srcs)):
                    err = int(
                        np.max(np.abs(frame[:, :, 0].astype(int) - src.astype(int)))
                    )
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["n_frames"].append(meta["n_frames"])
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["fps"].append(meta["fps"])
                    out["codec"].append(meta["codec"])
                    out["format"].append(fmt)
                    out["frame_ok"].append(bool(err <= 4))
            yield pd.DataFrame(out)

    return routed.mapInPandas(
        _decode,
        schema="doc_id long, frame_idx int, n_frames int, width int, "
        "height int, fps int, codec string, format string, frame_ok boolean",
    )


#: moov-at-end fixture geometry — distinct from both the AVI query
#: (32x16) and the fast-start MP4 query (24x8x3@12) so a shared
#: container bug cannot cancel out across lanes.
_MT_W, _MT_H, _MT_FRAMES, _MT_FPS = 16, 12, 2, 8


@query(
    "multimodal_decode_mp4_moov_tail",
    oracle=f"""
    SELECT d.doc_id, f.frame_idx,
           {_MT_FRAMES} AS n_frames, {_MT_W} AS width, {_MT_H} AS height,
           {_MT_FPS} AS fps, 'jpeg' AS codec,
           'mp4 (mjpeg)' AS format, TRUE AS moov_at_end, TRUE AS frame_ok
    FROM documents d, (VALUES (0), (1)) f(frame_idx)
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_decode_mp4_moov_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 round-5 close of the moov-at-end MJPEG slice: same MJPEG
    samples, OPPOSITE container layout — ``encode_mp4_mjpeg(...,
    fast_start=False)`` writes mdat first and trails the moov, the
    layout capture muxers produce and the one the round-4 head-only
    sniff deferred. Routing now sub-types it from the LAST 64 KB
    (``detect_format_col`` tail window anchored at the stsd
    sample-entry fourCC), and the sniffed label rides into the verified
    output. ``moov_at_end`` is computed from the actual byte order
    (moov offset > mdat offset) so the fixture provably exercises the
    tail path — a regression to fast-start muxing would flip it and
    fail the oracle, not silently pass via the head window. Decode is
    the unchanged ``parse_mp4_samples``/``decode_mp4_frames`` lane:
    stco offsets are absolute, so sample expansion is layout-blind."""
    import numpy as np

    from .mp4 import decode_mp4_frames, encode_mp4_mjpeg

    docs = text_docs(spark, sf_dir)
    w, h, n_frames, fps = _MT_W, _MT_H, _MT_FRAMES, _MT_FPS
    fbytes = w * h
    total = fbytes * n_frames
    enc = encode_gray_baseline

    def _mux(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                payloads.append(
                    encode_mp4_mjpeg(
                        [enc(buf[k * fbytes : (k + 1) * fbytes].reshape(h, w))
                         for k in range(n_frames)],
                        w, h, fps, fast_start=False,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text": pdf["text"], "payload": payloads}
            )

    media = docs.mapInPandas(_mux, schema="doc_id long, text string, payload binary")
    routed = media.withColumn("format", detect_format_col(F.col("payload")))

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_frames": [], "width": [],
                   "height": [], "fps": [], "codec": [], "format": [],
                   "moov_at_end": [], "frame_ok": []}
            for doc_id, text, payload, fmt in zip(
                pdf["doc_id"], pdf["text"], pdf["payload"], pdf["format"]
            ):
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                srcs = [
                    buf[k * fbytes : (k + 1) * fbytes].reshape(h, w)
                    for k in range(n_frames)
                ]
                blob = bytes(payload)
                tail_first = blob.find(b"moov") > blob.find(b"mdat")
                meta, frames = decode_mp4_frames(blob)
                for k, (frame, src) in enumerate(zip(frames, srcs)):
                    err = int(
                        np.max(np.abs(frame[:, :, 0].astype(int) - src.astype(int)))
                    )
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["n_frames"].append(meta["n_frames"])
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["fps"].append(meta["fps"])
                    out["codec"].append(meta["codec"])
                    out["format"].append(fmt)
                    out["moov_at_end"].append(bool(tail_first))
                    out["frame_ok"].append(bool(err <= 4))
            yield pd.DataFrame(out)

    return routed.mapInPandas(
        _decode,
        schema="doc_id long, frame_idx int, n_frames int, width int, "
        "height int, fps int, codec string, format string, "
        "moov_at_end boolean, frame_ok boolean",
    )


@query(
    "multimodal_mp4_metadata",
    oracle="""
    SELECT doc_id, 'isom' AS brand,
           CAST(n_chars AS BIGINT) * 10 AS duration_ms,
           1 AS n_tracks, 640 AS width, 360 AS height,
           'avc1' AS codec, FALSE AS decodable
    FROM documents
    """,
)
def q_multimodal_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 MP4 lane: the one registry format whose SAMPLE DATA stays
    behind the codec gate — but whose box tree is pure spec. Per
    document, build a canonical ISO-BMFF skeleton (duration = 10 ms ×
    n_chars in mvhd units, 16.16 geometry in tkhd, codec fourCC in
    stsd), then run the CATALOG pass a 100 TB ingest runs on video it
    cannot decode: walk the box tree (``mp4.parse_mp4`` — O(header
    bytes), sample data untouched), emit routing metadata, and pin
    that the capability registry still routes the payload to the
    deferred lane (decodable = FALSE — metadata parsing must NOT flip
    a codec-gated format into the decode path). Every metadata field
    is oracle-recomputed from the documents table."""
    from .mp4 import encode_mp4_skeleton, parse_mp4

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fmt_supported = supported_formats()

    def _catalog(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "brand": [], "duration_ms": [],
                   "n_tracks": [], "width": [], "height": [], "codec": [],
                   "decodable": []}
            for n_chars in pdf["n_chars"]:
                payload = encode_mp4_skeleton(int(n_chars) * 10, 640, 360)
                m = parse_mp4(payload)
                t = m["tracks"][0]
                out["brand"].append(m["brand"])
                out["duration_ms"].append(m["duration_ms"])
                out["n_tracks"].append(m["n_tracks"])
                out["width"].append(t["width"])
                out["height"].append(t["height"])
                out["codec"].append(t["codec"])
                out["decodable"].append("mp4/iso-bmff" in fmt_supported)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _catalog,
        schema="doc_id long, brand string, duration_ms long, n_tracks int, "
        "width int, height int, codec string, decodable boolean",
    )


@query(
    "multimodal_arrow_stats",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           ascii(text) AS first_byte
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow payload statistics: the zero-copy sibling of the
    mapInPandas decode path — batches stay pyarrow RecordBatches, so
    binary payloads are never converted into pandas objects (for
    media-sized blobs that conversion is the dominant cost). Computes
    byte length + first byte per payload; the oracle reads the same
    numbers off the source text (ASCII corpus ⇒ first utf-8 byte ==
    first codepoint)."""
    import pyarrow as pa

    media = as_media_frame(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )

    def stats(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            payloads = batch.column("payload")
            n_bytes = pa.array(
                [len(v.as_py()) for v in payloads], type=pa.int64()
            )
            first = pa.array(
                [v.as_py()[0] if len(v.as_py()) else None for v in payloads],
                type=pa.int32(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), n_bytes, first],
                names=["doc_id", "n_bytes", "first_byte"],
            )

    return media.mapInArrow(stats, "doc_id long, n_bytes long, first_byte int")


@query(
    "multimodal_video_scene_cuts",
    oracle=f"""
    WITH frames AS (
        SELECT d.doc_id, k.k AS frame_idx,
               [unicode(c) FOR c IN
                list_filter(split(substr(d.text, {_VID_W * _VID_H} * k.k + 1,
                                         {_VID_W * _VID_H}), ''), c -> c <> '')]
                   AS px
        FROM documents d, (SELECT unnest(range(0, {_VID_FRAMES})) AS k) k
        WHERE d.text IS NOT NULL
    ), deltas AS (
        SELECT a.doc_id, b.frame_idx,
               COALESCE(list_sum([abs(COALESCE(a.px[i + 1], 0)
                                      - COALESCE(b.px[i + 1], 0))
                                  FOR i IN range(0, {_VID_W * _VID_H})]), 0)
                   AS frame_delta
        FROM frames a JOIN frames b
          ON a.doc_id = b.doc_id AND b.frame_idx = a.frame_idx + 1
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_delta AS BIGINT) AS frame_delta,
           frame_delta > 1500 AS is_scene_cut
    FROM deltas
    ORDER BY doc_id, frame_idx
    """,
)
def q_multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over decoded video frames: encode each
    document's 6-frame animated GIF, decode the full animation, and
    score every ADJACENT frame pair by the exact sum of absolute pixel
    deltas — the shot-boundary primitive of video curation pipelines
    (a cut is a delta spike; a pan is a small delta).

    The entire encode → decode → pairwise-delta pipeline runs inside
    one mapInPandas pass (frame pixels never leave the Arrow batch;
    per-row state is two frames). Deltas are exact integers the oracle
    recomputes from the text code points (short docs zero-pad exactly
    like the decoder), so the driver adjudicates every frame pair, not
    a summary. The fixed threshold keeps the cut flag deterministic.
    """
    import numpy as np

    docs = text_docs(spark, sf_dir)
    fbytes = _VID_W * _VID_H
    total = fbytes * _VID_FRAMES

    def _cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _enc, _dec = encode_gif_animation, decode_gif_frames_payload
        gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_delta": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")[:total]
                buf = np.zeros(total, np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, np.uint8)
                frames = [
                    buf[k * fbytes : (k + 1) * fbytes].reshape(_VID_H, _VID_W)
                    for k in range(_VID_FRAMES)
                ]
                payload = _enc(frames, gray)
                decoded = _dec(payload)
                assert len(decoded) == _VID_FRAMES, (
                    f"decode returned {len(decoded)} frames, want {_VID_FRAMES}"
                )
                for k in range(1, len(decoded)):
                    prev = decoded[k - 1][:, :, 0].astype(np.int64)
                    cur = decoded[k][:, :, 0].astype(np.int64)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(k)
                    out["frame_delta"].append(int(np.abs(cur - prev).sum()))
            yield pd.DataFrame(out)

    scored = docs.mapInPandas(
        _cuts, schema="doc_id bigint, frame_idx int, frame_delta bigint"
    )
    return scored.select(
        "doc_id",
        "frame_idx",
        "frame_delta",
        (F.col("frame_delta") > 1500).alias("is_scene_cut"),
    ).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_audio_silence_trim",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             list_transform(split(text, ''), c -> unicode(c)) AS codes,
             CAST(strlen(text) // 2 AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(1, CAST(n AS INT) + 1),
               i -> CASE WHEN codes[2*i-1] + 256*codes[2*i] >= 32768
                         THEN codes[2*i-1] + 256*codes[2*i] - 65536
                         ELSE codes[2*i-1] + 256*codes[2*i] END) AS smp
      FROM b
    ), loud AS (
      SELECT doc_id, n,
             [i FOR i IN range(1, CAST(n AS INT) + 1) IF abs(smp[i]) > 8192]
                 AS loud_idx
      FROM s
    )
    SELECT doc_id, n AS n_samples,
           CAST(CASE WHEN len(loud_idx) = 0 THEN n
                     ELSE loud_idx[1] - 1 END AS BIGINT) AS lead_silence,
           CAST(CASE WHEN len(loud_idx) = 0 THEN 0
                     ELSE n - loud_idx[-1] END AS BIGINT) AS trail_silence,
           CAST(CASE WHEN len(loud_idx) = 0 THEN 0
                     ELSE loud_idx[-1] - loud_idx[1] + 1 END AS BIGINT)
               AS kept_samples
    FROM loud
    ORDER BY doc_id
    """,
)
def q_multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trimming over decoded PCM16 audio: per clip, the leading
    and trailing run of samples whose amplitude never exceeds the
    threshold (|s| > 8192 ≈ −12 dBFS marks signal) — the first
    preprocessing stage of every speech pipeline (silence carries no
    training signal but dominates raw duration).

    The clip round-trips through the real WAV encoder+parser before
    trimming (same encode→decode discipline as ``multimodal_audio_wav``),
    and the trim indices are pure integer comparisons the oracle
    recomputes from the text code points — sample-exact, no energy
    windows or floats. Scale: per-clip state is one pass over its own
    samples inside the Arrow batch; trim offsets (not trimmed payloads)
    leave the stage, so the shuffle carries O(1) per clip.
    """
    import numpy as np

    from .audio import decode_wav, encode_wav_pcm16

    docs = text_docs(spark, sf_dir)

    def _trim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = ("doc_id", "n_samples", "lead_silence", "trail_silence", "kept_samples")
        for pdf in batches:
            out = {c: [] for c in out_cols}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                raw = raw[: (len(raw) // 2) * 2]
                samples = np.frombuffer(raw, "<i2") if raw else np.zeros(0, "<i2")
                _sr, smp = decode_wav(encode_wav_pcm16(samples, _WAV_SR))
                smp = np.asarray(smp, dtype=np.int64).ravel()
                loud = np.flatnonzero(np.abs(smp) > 8192)
                n = len(smp)
                if len(loud) == 0:
                    # all-silence convention: everything trims from the
                    # front (lead = n, trail = 0, kept = 0)
                    lead, trail, kept = n, 0, 0
                else:
                    lead = int(loud[0])
                    trail = int(n - 1 - loud[-1])
                    kept = int(loud[-1] - loud[0] + 1)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(n)
                out["lead_silence"].append(lead)
                out["trail_silence"].append(trail)
                out["kept_samples"].append(kept)
            yield pd.DataFrame(out)

    return (
        docs.mapInPandas(
            _trim,
            schema="doc_id bigint, n_samples bigint, lead_silence bigint,"
            " trail_silence bigint, kept_samples bigint",
        )
        .orderBy("doc_id")
    )


@query(
    "multimodal_pdf_catalog",
    oracle="""
    WITH spec AS (
        SELECT doc_id,
               least(5, 1 + strlen(text) // 500) AS n_pages
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, '1.4' AS version,
           CAST(2 + 2 * n_pages AS BIGINT) AS n_objects,
           CAST(n_pages AS BIGINT) AS n_pages,
           TRUE AS xref_ok
    FROM spec
    ORDER BY doc_id
    """,
)
def q_multimodal_pdf_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF DOCUMENT modality, catalog lane: build a spec-correct
    multi-page PDF per document (page count derived from text length),
    then run the ingest-side catalog pass — version sniff, object
    census, /Type /Page census (negative lookahead so /Pages never
    miscounts), startxref validated against the real xref byte offset.

    The writer/parser pair follows the container discipline (avi/mp4/
    archive): the parser reads ISO 32000 structure tokens, not the
    writer's bytes back, so a foreign producer's PDF catalogs the same
    way — pinned in tests/test_pdf.py with hand-assembled spec bytes.
    The oracle recomputes the expected census from the page-count
    expression (catalog + pages + N page + N content objects). Scale:
    O(bytes) regex scan per payload, zero cross-row state, payloads
    never shuffle.
    """
    from .pdf import encode_pdf, pdf_catalog

    docs = text_docs(spark, sf_dir)

    def _catalog(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = ("doc_id", "version", "n_objects", "n_pages", "xref_ok")
        for pdf_batch in batches:
            out = {c: [] for c in out_cols}
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                n_pages = min(5, 1 + len(text.encode("utf-8")) // 500)
                pages = [
                    text.encode("utf-8")[i * 500 : (i + 1) * 500] for i in range(n_pages)
                ]
                meta = pdf_catalog(encode_pdf(pages))
                out["doc_id"].append(int(doc_id))
                out["version"].append(meta["version"])
                out["n_objects"].append(meta["n_objects"])
                out["n_pages"].append(meta["n_pages"])
                out["xref_ok"].append(meta["xref_ok"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _catalog,
        schema="doc_id bigint, version string, n_objects bigint,"
        " n_pages bigint, xref_ok boolean",
    ).orderBy("doc_id")


#: Real-resize output geometry (nearest-neighbor downsample of the
#: _PPM_W x _PPM_H source).
_RS_W, _RS_H = 8, 4

#: 1-based byte positions (into the PPM pixel buffer == document text)
#: sampled by nearest-neighbor: src_row = floor(i*H/h), src_col =
#: floor(j*W/w) — precomputed per channel so the oracle is a literal
#: index list and any drift in the resampling grid fails parity.
_RS_IDX = {
    c: [
        ((i * _PPM_H // _RS_H) * _PPM_W + (j * _PPM_W // _RS_W)) * 3 + c + 1
        for i in range(_RS_H)
        for j in range(_RS_W)
    ]
    for c in range(3)
}


def _rs_sum_sql(chan: int) -> str:
    lit = "[" + ", ".join(str(k) for k in _RS_IDX[chan]) + "]"
    return (
        f"CAST(COALESCE(list_sum(list_transform({lit}, "
        "k -> CASE WHEN k <= len(codes) THEN codes[k] ELSE 0 END)), 0) AS BIGINT)"
    )


@query(
    "multimodal_image_resize",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(split(substr(text, 1, {_PPM_BYTES}), ''),
                            c -> unicode(c)) AS codes
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, {_RS_W} AS out_w, {_RS_H} AS out_h,
           {_rs_sum_sql(0)} AS sum_r,
           {_rs_sum_sql(1)} AS sum_g,
           {_rs_sum_sql(2)} AS sum_b
    FROM b
    """,
)
def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 REAL resize (supersedes the byte-stub ``multimodal_resize``
    for pixel semantics): decode each P6 PPM payload with the numpy
    decoder, nearest-neighbor downsample 32x16 → 8x4 using the standard
    ``src = floor(dst * src_dim / dst_dim)`` grid, and emit exact
    integer channel sums of the RESIZED image. The oracle samples the
    identical precomputed byte positions straight from the document
    text (ASCII corpus ⇒ bytes == code points; positions beyond the
    text are the decoder's zero padding), so a one-pixel drift in the
    resampling grid is a hash mismatch.

    Scale: decode+resize stay inside one mapInPandas batch at the scan
    — payload bytes never shuffle, the hot loop is numpy fancy-indexing
    per image, embarrassingly parallel across partitions."""
    docs = fan_out_compute(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    payload = F.concat(
        F.encode(F.lit(f"P6\n{_PPM_W} {_PPM_H}\n255\n"), "utf-8"),
        F.encode(F.substring("text", 1, _PPM_BYTES), "utf-8"),
    )
    media = docs.select("doc_id", payload.alias("payload"))

    out_w, out_h = _RS_W, _RS_H
    decode = decode_rgb

    def _resize_nn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                img = decode(bytes(buf))
                hh, ww = img.shape[0], img.shape[1]
                ri = (_np.arange(out_h) * hh) // out_h
                ci = (_np.arange(out_w) * ww) // out_w
                small = img[_np.ix_(ri, ci)]
                s = small.astype("int64").sum(axis=(0, 1))
                rows.append(
                    (int(doc_id), out_w, out_h, int(s[0]), int(s[1]), int(s[2]))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b"]
            )

    return media.mapInPandas(
        _resize_nn,
        schema="doc_id bigint, out_w int, out_h int,"
        " sum_r bigint, sum_g bigint, sum_b bigint",
    ).orderBy("doc_id")


#: ViT-style patch grid over the 32x16 PPM: 4x4 patches of 8x4 pixels.
_PATCH_ROWS, _PATCH_COLS = 4, 4
_PATCH_H, _PATCH_W = _PPM_H // _PATCH_ROWS, _PPM_W // _PATCH_COLS


def _patch_positions(pr: int, pc: int) -> list[int]:
    """1-based positions of the patch's R-channel bytes in the text."""
    return [
        (r * _PPM_W + c) * 3 + 1
        for r in range(pr * _PATCH_H, (pr + 1) * _PATCH_H)
        for c in range(pc * _PATCH_W, (pc + 1) * _PATCH_W)
    ]


_PATCH_VALUES = ", ".join(
    f"({pr}, {pc}, {_patch_positions(pr, pc)})"
    for pr in range(_PATCH_ROWS)
    for pc in range(_PATCH_COLS)
)


@query(
    "multimodal_image_patches",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             list_transform(split(substr(text, 1, {_PPM_BYTES}), ''),
                            c -> unicode(c)) AS codes
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(p.pr AS INT) AS patch_row, CAST(p.pc AS INT) AS patch_col,
           CAST(COALESCE(list_sum(list_transform(p.poss,
                k -> CASE WHEN k <= len(codes) THEN codes[k] ELSE 0 END)), 0)
                AS BIGINT) AS sum_r
    FROM b, (VALUES {_PATCH_VALUES}) AS p(pr, pc, poss)
    """,
)
def q_multimodal_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style PATCH extraction: decode each 32x16 PPM payload and
    split it into the 4x4 grid of 8x4-pixel patches — the
    vision-transformer preprocessing step (images become patch-token
    sequences), emitted as one row per (doc, patch) with the patch's
    exact R-channel sum. The oracle samples each patch's 32 generated
    byte positions straight from the text (the
    [[multimodal_image_resize]] technique), so a one-pixel drift in the
    patch grid — the classic off-by-one in patchify code — is a hash
    mismatch on specific patches, not a fuzzy aggregate wobble.

    Scale: decode + reshape run inside one mapInPandas batch at the
    scan (numpy ``reshape(4, 4, 4, 8)``-family splitting, zero copies);
    the 16x row fan-out happens AFTER the heavy decode, and payload
    bytes never shuffle. Patch size is the model-contract knob; the
    grid arithmetic is shared between engine and oracle from one
    generator.
    """
    docs = fan_out_compute(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    payload = F.concat(
        F.encode(F.lit(f"P6\n{_PPM_W} {_PPM_H}\n255\n"), "utf-8"),
        F.encode(F.substring("text", 1, _PPM_BYTES), "utf-8"),
    )
    media = docs.select("doc_id", payload.alias("payload"))
    decode = decode_rgb
    p_rows, p_cols, p_h, p_w = _PATCH_ROWS, _PATCH_COLS, _PATCH_H, _PATCH_W

    def _patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                img = decode(bytes(buf))  # (16, 32, 3)
                r = img[:, :, 0].astype("int64")
                # (4, 4, 4, 8): patch grid x in-patch pixels
                grid = r.reshape(p_rows, p_h, p_cols, p_w).transpose(0, 2, 1, 3)
                sums = grid.sum(axis=(2, 3))
                for pr in range(p_rows):
                    for pc in range(p_cols):
                        rows.append((int(doc_id), pr, pc, int(sums[pr, pc])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "patch_row", "patch_col", "sum_r"]
            )

    return media.mapInPandas(
        _patchify,
        schema="doc_id bigint, patch_row int, patch_col int, sum_r bigint",
    )
