"""Multimodal (image/audio/video) column plumbing — BASELINE extension.

The engine treats media as **opaque ``binary`` payload columns with typed
metadata** (kind + map<string,string>), exactly like the reference treats PDF
bytes before parse (backend/app/core/pdf_parser.py:452-511 reads the file and
only then structures it). At 100 TB the invariants are:

* payloads ride in Parquet binary columns — scans prune them unless the
  feature stage actually needs bytes (column pruning is the whole game; never
  put payloads in the same row group hot path as scalar filters if avoidable);
* decode / feature-extract runs as Arrow-batched ``mapInPandas`` so each
  Python worker sees a columnar batch (spark.sql.execution.arrow
  .maxRecordsPerBatch bounds peak memory = batch_rows × max payload size);
* real codecs (PIL/librosa/av) are per-executor imports inside the UDF; this
  container does not ship them, so decode is STUBBED — the deterministic
  fake-feature path keeps schema/partitioning/batch plumbing fully testable.

``media_features`` output is hash-matchable against DuckDB because the fake
feature is pure md5 arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: canonical media row: (media_id, kind, payload, meta)
MEDIA_KINDS = ("image", "audio", "video", "text")


def attach_payload(df: DataFrame, id_col: str, text_col: str, kind: str = "text") -> DataFrame:
    """Build a canonical media DataFrame from a text column (UTF-8 bytes as
    the opaque payload) — the test-data stand-in for real image/audio blobs.
    Output: (media_id, kind, payload binary, meta map<string,string>)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.create_map(
            F.lit("orig_col"), F.lit(text_col),
        ).alias("meta"),
    )


def fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a learned embedding: byte i of md5(payload)
    scaled to [0, 1]. Stable across engines/runs, so the whole mapInPandas
    pipeline is oracle-checkable."""
    import hashlib

    digest = hashlib.md5(bytes(payload)).hexdigest()
    return [int(digest[2 * i: 2 * i + 2], 16) / 255.0 for i in range(dim)]


def extract_features(media: DataFrame, dim: int = 4) -> DataFrame:
    """Feature extraction over media payloads as Arrow-batched ``mapInPandas``.

    Output: (media_id, kind, n_bytes, payload_md5, feature array<double>).
    The fake feature derives from md5 — swap ``fake_feature`` for a model
    forward pass (per-executor singleton) for the real path; the plumbing
    (schema, batch iteration, payload byte handling) is identical.
    """
    if not 1 <= dim <= 16:
        raise ValueError("md5-derived fake features support dim 1..16")

    schema = (
        "media_id long, kind string, n_bytes long, payload_md5 string, "
        "feature array<double>"
    )

    def gen(batches: Iterator["object"]) -> Iterator["object"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            md5s = [hashlib.md5(p).hexdigest() for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "payload_md5": md5s,
                    "feature": [
                        [int(h[2 * i: 2 * i + 2], 16) / 255.0 for i in range(dim)]
                        for h in md5s
                    ],
                }
            )

    return media.mapInPandas(gen, schema)


def frame_sample(
    media: DataFrame,
    frame_bytes: int = 256,
    every_n: int = 1,
) -> DataFrame:
    """Frame sampling for video-kind payloads — pure JVM expressions, no
    Python: chunk the payload into fixed-size byte frames and keep every
    n-th. Real frame extraction (av/ffmpeg) would swap the chunker for a
    decode UDF; the partition/explode shape is the same.

    Output: (media_id, frame_idx, frame binary).
    """
    n_frames = F.ceil(F.length("payload") / F.lit(frame_bytes)).cast("int")
    idx = F.sequence(F.lit(0), n_frames - 1)
    sampled = F.filter(idx, lambda i: i % every_n == 0)
    frames = F.transform(
        sampled,
        lambda i: F.struct(
            i.alias("frame_idx"),
            # substring is 1-based; works on binary and returns binary
            F.col("payload").substr(i * frame_bytes + 1, F.lit(frame_bytes)).alias("frame"),
        ),
    )
    return (
        media.filter(F.length("payload") > 0)
        .select("media_id", F.explode(frames).alias("f"))
        .select("media_id", F.col("f.frame_idx").alias("frame_idx"), F.col("f.frame").alias("frame"))
    )


def resize_images(
    media: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
) -> DataFrame:
    """Image resize as an Arrow-batched ``mapInPandas`` stage.

    Real path (executors with PIL): decode → ``Image.resize((w, h))`` →
    re-encode. This environment ships no image codec, so the deterministic
    stand-in keeps the *plumbing* honest — binary in/binary out, target
    dims recorded in typed metadata columns, output size proportional to
    w*h: the payload is byte-strided down to exactly ``target_w*target_h``
    bytes (repeating-padded when shorter). Swap ``_fake_resize`` for the
    PIL call and nothing else changes (schema, batching, partitioning).

    Output: (media_id, kind, width, height, n_bytes, resized binary).
    """
    if target_w <= 0 or target_h <= 0:
        raise ValueError("target dims must be positive")
    out_len = target_w * target_h

    def _fake_resize(payload: bytes) -> bytes:
        if len(payload) == 0:
            return b"\x00" * out_len
        if len(payload) >= out_len:
            stride = len(payload) // out_len
            return bytes(payload[i * stride] for i in range(out_len))
        reps = out_len // len(payload) + 1
        return (payload * reps)[:out_len]

    schema = "media_id long, kind string, width int, height int, n_bytes long, resized binary"

    def gen(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            resized = [_fake_resize(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": target_w,
                    "height": target_h,
                    "n_bytes": [len(r) for r in resized],
                    "resized": resized,
                }
            )

    return media.mapInPandas(gen, schema)
