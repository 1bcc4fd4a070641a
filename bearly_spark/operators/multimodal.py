"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB:
- the payload is a ``binary`` column in parquet (stored natively, never
  decoded by Spark itself);
- a typed metadata struct (modality, byte length, content hash) rides
  alongside for pruning/routing without touching payload bytes;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages so payload bytes cross into Python once per batch,
  not per row;
- size skew (a few huge videos per partition) is handled by lowering
  ``spark.sql.files.maxPartitionBytes`` or salting on the hash prefix.

The decode stage is REAL for uncompressed formats (round 9): a pure-Python
24-bit BMP header+pixel decoder (:func:`bmp_image_features`) is the default
decoder everywhere, upgraded to Pillow (:func:`pil_image_features`) where
that lib is installed; compressed codecs (JPEG/PNG/audio/video) still need
an external lib and slot in through the same ``decoder=`` hook. The
md5-derived fake-feature stand-in survives only behind an explicit opt-in
(``on_error="fake"`` or ``decoder=_fake_features``) for plumbing tests.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bearly_spark.operators.dedup import _bucket_pairs, _collapse_content, _doc_pairs, _pin
from bearly_spark.operators.text import ensure_parallelism

#: Schema of the decode output — fixed and engine-visible so downstream
#: operators can be planned without running the decoder.
FEATURE_SCHEMA = (
    "doc_id long, modality string, payload_bytes long, feature array<double>"
)

N_FEATURES = 8


def attach_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload + metadata struct from a text
    column (stand-in for reading real media bytes from parquet/blob store).
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("modality"),
            F.octet_length(F.col(text_col)).alias("payload_bytes"),
            F.md5(F.col(text_col)).alias("content_md5"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: 8 doubles derived from
    the md5 digest. Replace with PIL/torchvision/ffmpeg in production."""
    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:N_FEATURES]]


def pil_image_features(payload: bytes) -> list[float]:
    """REAL image decoder (activates wherever Pillow is installed; this
    container has no codec libs, so it is exercised via an importorskip
    test): decode → RGB → 32×32 resize → 8 features = per-channel
    mean/std + luma mean/std. The production shape for the decode stage —
    swap in torchvision/ffmpeg the same way."""
    import io

    from PIL import Image  # noqa: F401 — hard dep only on this code path

    import numpy as np

    img = Image.open(io.BytesIO(payload)).convert("RGB").resize((32, 32))
    arr = np.asarray(img, dtype=np.float64) / 255.0
    luma = arr @ np.array([0.299, 0.587, 0.114])
    feats = list(arr.mean(axis=(0, 1))) + list(arr.std(axis=(0, 1)))
    feats += [float(luma.mean()), float(luma.std())]
    return [float(f) for f in feats]


def bmp_image_features(payload: bytes) -> list[float]:
    """REAL pure-Python image decoder for 24-bit uncompressed (BI_RGB)
    BMP: parses the BITMAPFILEHEADER/BITMAPINFOHEADER, slices the pixel
    array out of the payload (honoring the 4-byte row padding and
    top-down negative heights), and emits 8 EXACT-INTEGER-valued
    features — ``[width, height, sum_r, sum_g, sum_b, sum(r²+g²+b²),
    sum(max(r,g,b)), n_pixels]`` — integers so a cross-engine oracle
    can compare them without float-rounding hazards (each is ≤
    255²·3·10⁶ for a megapixel image, exact in a double). Vectorized
    with numpy (one ``frombuffer`` view, no per-pixel Python). Raises
    ``ValueError`` on non-BMP bytes or unsupported bpp/compression —
    compressed formats go through :func:`pil_image_features` or a
    production codec via the same ``decoder=`` hook."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    _hdr, width, height = struct.unpack_from("<Iii", payload, 14)
    _planes, bpp = struct.unpack_from("<HH", payload, 26)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={comp})")
    h = abs(height)
    row_bytes = (width * 3 + 3) // 4 * 4
    if pix_off + h * row_bytes > len(payload):
        raise ValueError("truncated BMP pixel array")
    arr = (
        np.frombuffer(payload, dtype=np.uint8, count=h * row_bytes, offset=pix_off)
        .reshape(h, row_bytes)[:, : width * 3]
        .reshape(h, width, 3)
        .astype(np.int64)
    )
    # in-file channel order is B,G,R
    return [
        float(width),
        float(h),
        float(arr[..., 2].sum()),
        float(arr[..., 1].sum()),
        float(arr[..., 0].sum()),
        float((arr * arr).sum()),
        float(arr.max(axis=2).sum()),
        float(width * h),
    ]


def plant_bmp_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Materialize a REAL 24-bit uncompressed BMP payload per row whose
    pixel array is the document's UTF-8 bytes cycled to fill the image —
    deterministic, twin-replayable media bytes for exercising the real
    decode path where no image fixtures exist (an oracle can recompute
    every pixel byte as ``text_byte[j mod len]``). Same (doc_id,
    payload, meta) shape as :func:`attach_payload`; one mapInPandas
    stage so bytes cross the Python boundary once per Arrow batch."""
    import struct

    row_bytes = (width * 3 + 3) // 4 * 4
    npix_bytes = row_bytes * height
    size = 54 + npix_bytes
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, npix_bytes, 2835, 2835, 0, 0)
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            metas = []
            for text in pdf[text_col]:
                tb = str(text).encode("utf-8") or b"\x00"
                body = (tb * (npix_bytes // len(tb) + 1))[:npix_bytes]
                p = header + body
                payloads.append(p)
                metas.append(
                    {
                        "modality": "image/bmp",
                        "payload_bytes": len(p),
                        "content_md5": hashlib.md5(p).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "payload": payloads, "meta": metas}
            )

    return df.mapInPandas(
        build,
        schema=(
            "doc_id long, payload binary, "
            "meta struct<modality:string,payload_bytes:bigint,content_md5:string>"
        ),
    )


def wav_audio_features(payload: bytes) -> list[float]:
    """REAL pure-Python audio decoder for 16-bit PCM WAV: walks the
    RIFF chunk list (handles extra chunks and odd-size padding), reads
    the fmt block, slices the data chunk and emits 8 EXACT-INTEGER
    features — ``[sample_rate, n_channels, bits, n_samples, sum,
    sum_of_squares, min, max]`` over the int16 samples (all channels
    pooled; each ≤ 2^15²·n exact in a double up to ~10^21 samples).
    Vectorized (one ``frombuffer`` int16 view). Raises ``ValueError``
    on non-WAV bytes or non-16-bit/non-PCM encodings — compressed
    audio goes through a production codec via the ``decoder=`` hook."""
    import struct

    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/WAVE magic)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + csz > len(payload):
            # a declared chunk size past the payload end means truncated
            # or corrupt bytes — fail loudly instead of silently emitting
            # stats over a shortened data slice
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {csz} bytes but only "
                f"{len(payload) - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            if csz < 16:
                raise ValueError(f"WAV fmt chunk too short ({csz} < 16 bytes)")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # RIFF chunks pad to even size
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _brate, _balign, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (fmt={audio_format}, bits={bits})")
    samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2).astype(np.int64)
    return [
        float(sample_rate),
        float(n_channels),
        float(bits),
        float(len(samples)),
        float(samples.sum()),
        float((samples * samples).sum()),
        float(samples.min()) if len(samples) else 0.0,
        float(samples.max()) if len(samples) else 0.0,
    ]


def plant_wav_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_samples: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Materialize a REAL mono 16-bit PCM WAV payload per row whose
    data chunk is the document's UTF-8 bytes cycled — the audio twin of
    :func:`plant_bmp_payload` (an oracle recomputes every PCM sample as
    the little-endian int16 of two cycled text bytes). Same (doc_id,
    payload, meta) shape; one mapInPandas stage."""
    import struct

    data_bytes = n_samples * 2
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + data_bytes)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_bytes)
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            metas = []
            for text in pdf[text_col]:
                tb = str(text).encode("utf-8") or b"\x00"
                body = (tb * (data_bytes // len(tb) + 1))[:data_bytes]
                p = header + body
                payloads.append(p)
                metas.append(
                    {
                        "modality": "audio/wav",
                        "payload_bytes": len(p),
                        "content_md5": hashlib.md5(p).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "payload": payloads, "meta": metas}
            )

    return df.mapInPandas(
        build,
        schema=(
            "doc_id long, payload binary, "
            "meta struct<modality:string,payload_bytes:bigint,content_md5:string>"
        ),
    )


def sniff_features(payload: bytes) -> list[float]:
    """Magic-byte dispatching decoder: BMP → :func:`bmp_image_features`,
    RIFF/WAVE → :func:`wav_audio_features`; anything else raises — the
    mixed-modality default for corpora that interleave image and audio
    payloads in one binary column."""
    if payload[:2] == b"BM":
        return bmp_image_features(payload)
    if payload[:4] == b"RIFF":
        return wav_audio_features(payload)
    raise ValueError("undecodable payload: no known magic (BMP/WAV)")


def default_decoder():
    """Best real decoder available in this environment — Pillow
    (compressed formats + everything PIL reads) when installed, else the
    always-available pure-Python magic-sniffing decoder (uncompressed
    BMP images + 16-bit PCM WAV audio). The same hook is where
    ffmpeg/torchaudio would slot in for compressed audio/video."""
    try:
        import PIL  # noqa: F401

        return pil_image_features
    except ImportError:
        return sniff_features


def decode_features(df: DataFrame, decoder=None, on_error: str = "raise") -> DataFrame:
    """Arrow-batched decode/feature-extract over payload binaries.

    ``df`` must have (doc_id, payload, meta) as produced by
    :func:`attach_payload` / :func:`plant_bmp_payload`. ``decoder`` is
    any ``bytes -> list[float]`` (length N_FEATURES) callable — the
    pure-Python :func:`bmp_image_features` by default,
    :func:`pil_image_features` where Pillow is installed
    (:func:`default_decoder` picks), a torchvision/ffmpeg wrapper in
    production. A payload the decoder rejects fails the job loudly by
    default (a misconfigured cluster must not silently produce garbage
    features); ``on_error="fake"`` is the explicit opt-in that
    substitutes the deterministic md5 stand-in for undecodable payloads
    (plumbing tests, mixed-modality smoke runs)."""
    if on_error not in ("raise", "fake"):
        raise ValueError(f"on_error must be 'raise' or 'fake', got {on_error!r}")
    decoder = decoder or default_decoder()

    def decode_one(p: bytes) -> list[float]:
        if on_error == "fake":
            try:
                return decoder(p)
            except Exception:  # noqa: BLE001 — explicit fake opt-in
                return _fake_features(p)
        return decoder(p)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "payload_bytes": [m["payload_bytes"] for m in pdf["meta"]],
                    "feature": [decode_one(bytes(p)) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(decode, schema=FEATURE_SCHEMA)


def frame_sample_stub(df: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """Deterministic 'frame sampling' stand-in for video payloads: emit one
    row per sampled byte offset. Shows the explode-shaped output plumbing a
    real frame sampler would use (one row per frame, offset + frame bytes).
    """
    n_frames = F.greatest(
        F.lit(1), (F.col("meta.payload_bytes") / every_n_bytes).cast("int")
    )
    offsets = F.sequence(F.lit(0), (n_frames - 1) * every_n_bytes, F.lit(every_n_bytes))
    return df.select(
        "doc_id",
        F.explode(offsets).alias("frame_offset"),
        F.col("meta.payload_bytes").alias("payload_bytes"),
    )


# ------------------------------------------------------------------ dedup


def binary_block_table(
    df: DataFrame, id_col: str, payload_col: str, block_bytes: int
) -> DataFrame:
    """(id, bh) DISTINCT block-hash rows: the payload split into fixed
    ``block_bytes`` chunks, each md5'd — all JVM built-ins (sequence/
    explode/substring/md5 — substring and md5 both operate natively on
    BinaryType), no UDF, no payload bytes past the map stage. Repeated
    blocks inside one payload count once (set semantics). Empty/null
    payloads yield no rows."""
    nblocks = F.ceil(F.octet_length(F.col(payload_col)) / F.lit(block_bytes)).cast("int")
    return (
        df.filter(F.octet_length(F.col(payload_col)) > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("_bi"),
            F.col(payload_col),
        )
        .select(
            id_col,
            F.md5(
                F.expr(
                    f"substring({payload_col}, _bi * {block_bytes} + 1, {block_bytes})"
                )
            ).alias("bh"),
        )
        .dropDuplicates([id_col, "bh"])
    )


def binary_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    block_bytes: int = 32,
    threshold: float = 0.5,
    max_posting: int = 1000,
    observation=None,
) -> DataFrame:
    """Near-duplicate MULTIMODAL assets: Jaccard over fixed-size block
    hashes of the raw payload bytes — the content-defined-storage dedup
    model (two encodings of the same image/audio share most chunks;
    re-muxed or partially-corrupted copies share a prefix/suffix of
    blocks). This is the binary-column counterpart of the text family's
    MinHash path, built entirely from JVM expressions (no UDF anywhere:
    block hashing is sequence+substring+md5, discovery is an inverted
    index over block hashes).

    Same near-dup skeleton as the text family (``dedup`` module
    docstring):

    - exact-copy collapse FIRST (md5 of the whole payload): the block
      stage and the pairwise discovery run once per DISTINCT payload;
      exact copies expand at the end at Θ(answer) cost, as 1.0-pairs
      that can never be lost to a posting cap;
    - discovery is an inverted-index join: only (rep_id, block_hash)
      rows shuffle, a posting list longer than ``max_posting`` distinct
      payloads is dropped (degenerate boilerplate blocks — a run of
      0x00 padding shared by half the corpus must not fan out
      quadratically), dropped mass is reported through ``observation``
      (same contract as the text banding paths), and in-posting pair
      expansion is bounded by max_posting²;
    - exact block-set Jaccard = shared / (|A| + |B| - shared) from the
      per-pair shared-block count plus two broadcast-size set-size
      joins — no re-scan of payloads.

    Fixed (non-content-defined) chunking means an INSERTION that shifts
    byte alignment breaks all downstream block matches — by design:
    this operator targets media/container payloads (aligned edits,
    truncations, metadata patches), not edit-distance text similarity,
    which the MinHash/SimHash/winnowing family owns. Null and empty
    payloads never pair cross-group; exact-copy groups of non-null
    payloads (including empty ones) still emit their within-group 1.0
    pairs.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.
    """
    groups, members = _collapse_content(ensure_parallelism(df), id_col, payload_col)
    reps = groups.filter(F.col(payload_col).isNotNull()).select(
        F.col("_gid").alias(id_col), F.col(payload_col)
    )
    # consumed by sizes, postings, and the shared-count join
    blocks = _pin(binary_block_table(reps, id_col, payload_col, block_bytes))
    sizes = blocks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))

    _, pairs = _bucket_pairs(blocks, ["bh"], F.col(id_col), max_posting, observation)
    shared = pairs.groupBy("p.id_a", "p.id_b").agg(F.count(F.lit(1)).alias("_shared"))
    rep_pairs = (
        shared.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_shared") / (F.col("_na") + F.col("_nb") - F.col("_shared")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    same = groups.filter(
        (F.col("_gsize") >= 2) & F.col(payload_col).isNotNull() & (F.lit(1.0) >= F.lit(threshold))
    ).select("_gid")
    return _doc_pairs(members, rep_pairs, same, id_col, F.lit(1.0))
