"""Multimodal column plumbing (X5; SURVEY §2.11).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata structs (schema.MEDIA_SCHEMA). The Spark-side plumbing —
schemas, partitioning, Arrow-batched Pandas UDF signatures, batch
shapes — is real and tested; the codec layer is IMPORT-GATED (the
``sources/bars_datasource._require`` pattern) because no image/audio
libraries ship in this container:

- :func:`decode_image` uses Pillow when installed and raises
  :class:`CodecUnavailable` with a clear message when not;
- :func:`fake_decode_meta` is the deterministic stand-in the tests and
  the oracle-checked pipeline use (``decoder="fake"``, the default);
  pass ``decoder="pillow"`` to :func:`extract_media_meta` to run the
  real codec over genuinely encoded payloads.

At 100 TB the payload column dominates IO — every function here prunes
it as early as possible (metadata-only projections never touch bytes;
Parquet column pruning keeps payloads on disk).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def build_media_table(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from the documents table
    (the container has no real image fixtures): payload = UTF-8 bytes of
    the text, kind round-robined by doc_id."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def build_ppm_media_table(documents: DataFrame) -> DataFrame:
    """Media table whose payloads are genuinely ENCODED images — binary
    PPM (``P6``) with doc_id-derived dimensions — built entirely with
    JVM string/binary expressions (no Python in the hot path). Unlike
    :func:`build_media_table`'s opaque fake payloads, these round-trip
    through a real header+raster encoding, so :func:`decode_ppm` must
    actually parse bytes to recover width/height; the raster is a
    deterministic fill byte, which keeps the payload reconstructable by
    the SQL oracle while the byte-count validation stays real."""
    w = (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(13))).cast("int")
    h = (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(11))).cast("int")
    header = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    raster = F.repeat(F.lit("x"), (w * h * F.lit(3)).cast("int"))
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.concat(header, raster), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


class CodecUnavailable(RuntimeError):
    """A real media codec was requested but its library is absent."""


def _require_pillow():
    try:
        from PIL import Image  # noqa: PLC0415 — import-gated by design

        return Image
    except ImportError as exc:  # pragma: no cover - env without Pillow
        raise CodecUnavailable(
            "image decoding requires Pillow, which is not installed in "
            "this environment; use decoder='fake' (the deterministic "
            "stand-in) for the pipeline shape"
        ) from exc


def decode_image(payload: bytes) -> tuple[int, int, str]:
    """Real image decode, import-gated on Pillow (the
    ``sources/bars_datasource._require`` pattern): returns (width, height,
    mode). Raises :class:`CodecUnavailable` with a clear remedy when
    Pillow is absent — the deterministic :func:`fake_decode_meta`
    remains the test/oracle path either way."""
    import io

    Image = _require_pillow()
    with Image.open(io.BytesIO(payload or b"")) as im:
        return int(im.width), int(im.height), str(im.mode or "")


def _parse_ppm_header(data: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-PPM (P6) header: returns (width, height, maxval,
    raster_start). Whitespace/comment-tolerant per the Netpbm spec;
    raises ``ValueError`` on anything malformed."""
    if data[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # header comment, to end of line
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header (expected integer)")
        vals.append(int(data[start:pos]))
    width, height, maxval = vals
    if width <= 0 or height <= 0:
        raise ValueError(f"PPM dimensions out of range: {width}x{height}")
    if not 0 < maxval < 65536:
        raise ValueError(f"PPM maxval out of range: {maxval}")
    pos += 1  # spec: exactly ONE whitespace byte between maxval and raster
    return width, height, maxval, pos


def decode_ppm(payload: bytes) -> tuple[int, int, str]:
    """Real, pure-stdlib image decode for binary PPM (``P6`` — the
    Netpbm portable pixmap, a public uncompressed format): parses the
    whitespace/comment-tolerant ASCII header, validates maxval and the
    raster byte count, and returns (width, height, mode). Unlike
    :func:`decode_image` this needs no third-party codec, so the
    real-decode branch of :func:`extract_media_meta` can execute — and
    be oracle-checked — in environments without Pillow. Raises
    ``ValueError`` on anything that is not a well-formed P6 payload."""
    data = payload or b""
    width, height, maxval, pos = _parse_ppm_header(data)
    bytes_per_sample = 2 if maxval > 255 else 1
    expected = width * height * 3 * bytes_per_sample
    if len(data) - pos != expected:
        raise ValueError(
            f"PPM raster length mismatch: header implies {expected} bytes, "
            f"payload carries {len(data) - pos}"
        )
    return width, height, "RGB"


def fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: derive (width, height,
    duration_ms) from a stable digest of the bytes."""
    d = hashlib.sha256(payload or b"").digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    duration_ms = int.from_bytes(d[2:4], "big")
    return width, height, duration_ms


_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def extract_media_meta(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """Feature-extraction pass over payload bytes via ``mapInPandas``
    (Arrow-batched; one pandas frame per partition batch — the shape a
    real decoder uses).

    ``decoder="fake"`` (default): the deterministic digest-derived
    stand-in, mirrored exactly by the SQL oracle. ``decoder="ppm"``:
    the REAL pure-stdlib binary-PPM decode (:func:`decode_ppm`) — runs
    everywhere, no third-party codec. ``decoder="pillow"``: the real
    import-gated Pillow codec. Both real decoders yield width/height
    from the decoded image and NULL duration_ms (images have none);
    rows whose payload is not decodable raise, by design (feed them
    image rows)."""
    if decoder not in ("fake", "ppm", "pillow"):
        raise ValueError(
            f"decoder must be 'fake', 'ppm' or 'pillow', got {decoder!r}"
        )
    if decoder == "pillow":
        _require_pillow()  # fail fast on the driver, not per-task

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "pillow":
                decoded = [decode_image(p) for p in pdf["payload"]]
                metas = [(w, h, None) for (w, h, _mode) in decoded]
            elif decoder == "ppm":
                decoded = [decode_ppm(p) for p in pdf["payload"]]
                metas = [(w, h, None) for (w, h, _mode) in decoded]
            else:
                metas = [fake_decode_meta(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": [len(p or b"") for p in pdf["payload"]],
                    "sha256": [hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "duration_ms": [m[2] for m in metas],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        extract, _META_SCHEMA
    )


def _resize_ppm_payload(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize of one binary-PPM payload, pure
    stdlib+numpy: decode header (:func:`decode_ppm` validates it),
    reshape the raster to (h, w, 3), index-resample to the target
    shape, and re-encode as P6. 8-bit maxval only (the table builder's
    format); the output is itself a valid decodable P6 payload. 16-bit
    P6 (maxval > 255 — which :func:`decode_ppm` accepts) is REJECTED
    here rather than silently resampled from a wrong 1-byte/sample
    raster slice."""
    import numpy as np

    src_w, src_h, _mode = decode_ppm(payload)  # full validation
    data = payload or b""
    _, _, maxval, raster_start = _parse_ppm_header(data)
    if maxval > 255:
        raise ValueError(
            "resize_ppm supports 8-bit P6 only (maxval <= 255), got "
            f"maxval={maxval}"
        )
    raster = data[raster_start:]
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(src_h, src_w, 3)
    rows = (np.arange(height) * src_h) // height
    cols = (np.arange(width) * src_w) // width
    out = arr[rows][:, cols]
    return f"P6\n{width} {height}\n255\n".encode() + out.tobytes()


def resize_ppm(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image-resize over binary-PPM payloads via Arrow-batched
    ``mapInPandas`` — the non-stub counterpart of :func:`resize_image`:
    every payload is actually decoded, nearest-neighbor resampled, and
    re-encoded (:func:`_resize_ppm_payload`), so downstream consumers
    can re-decode the output. Non-image rows pass through untouched;
    meta width/height reflect the target size for resized rows."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for kind, payload, meta in zip(pdf["kind"], pdf["payload"], pdf["meta"]):
                if kind != "image":
                    payloads.append(payload)
                    metas.append(meta)
                    continue
                payloads.append(_resize_ppm_payload(payload, width, height))
                new_meta = dict(meta) if meta is not None else {}
                new_meta.update({"width": width, "height": height})
                metas.append(new_meta)
            out = pdf.copy()
            out["payload"] = payloads
            out["meta"] = metas
            yield out

    return media.mapInPandas(do_resize, media.schema)


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image-resize plumbing: payload → decoded → resized → re-encoded
    payload, as an Arrow-batched ``mapInPandas`` (the batch shape a real
    PIL/cv2 resize would use; the codec itself is the deterministic
    fake: output payload = sha256-keyed bytes of length width·height·3,
    standing in for an RGB buffer). Non-image rows pass through
    untouched. Output schema matches the input media table, with meta
    width/height set to the target size for resized rows."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_bytes = width * height * 3
        for pdf in batches:
            payloads, metas = [], []
            for kind, payload, meta in zip(pdf["kind"], pdf["payload"], pdf["meta"]):
                if kind != "image":
                    payloads.append(payload)
                    metas.append(meta)
                    continue
                seed = hashlib.sha256(payload or b"").digest()
                # deterministic fake RGB buffer: repeat the digest
                payloads.append((seed * (n_bytes // len(seed) + 1))[:n_bytes])
                new_meta = dict(meta) if meta is not None else {}
                new_meta.update({"width": width, "height": height})
                metas.append(new_meta)
            out = pdf.copy()
            out["payload"] = payloads
            out["meta"] = metas
            yield out

    return media.mapInPandas(do_resize, media.schema)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Fake media featurizer: payload → dense unit vector (the CLIP-
    style encode step of a multimodal training pipeline), Arrow-batched.
    Deterministic: features derive from the payload digest, so the
    operator composes with the similarity/ANN stack reproducibly
    (media features → operators.similarity.ann_lsh_topk). Output:
    (media_id, kind, feature array<double>)."""
    import numpy as np

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                d = hashlib.sha256(payload or b"").digest()
                need = dim * 8
                buf = (d * (need // len(d) + 1))[:need]
                v = np.frombuffer(buf, dtype=">u8").astype("float64")
                v = v / np.iinfo("uint64").max - 0.5
                n = np.linalg.norm(v)
                feats.append((v / n if n > 0 else v).tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "feature": feats}
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        featurize, "media_id long, kind string, feature array<double>"
    )


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    timestamp (duration from the fake decode; a real decoder would yield
    actual frames). Demonstrates the explode-shaped fan-out a video
    pipeline needs, with the payload column pruned before the fan-out."""
    meta = extract_media_meta(media.filter(F.col("kind") == "video"))
    return meta.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("duration_ms"),
                F.lit(every_ms).cast("long"),
            )
        ).alias("frame_ts_ms"),
    )
