"""Genuine multimodal blob fixtures: real PGM / WAV / Y4M containers
around seeded random rasters, with a generation-time golden table.

The original media tables wrap DOCUMENT TEXT in real containers so the
DuckDB oracle can recompute decode results from the text (VERDICT r9
item 8 flagged the limit: headers and rasters derived from text never
exercise 2-D rasters, extra RIFF chunks, or multi-frame video). This
module generates payloads with NON-TEXT dimensions:

* image -- true 2-D PGM (height > 1), random 0..255 raster;
* audio -- WAV whose chunk list includes an ODD-SIZED ``LIST`` chunk
  before ``data`` (exercises the chunk walker's word-alignment skip);
* video -- multi-frame Y4M (2-5 frames), one frame carrying a FRAME
  parameter token.

Ground truth is computed AT GENERATION TIME from the raw sample arrays
(never through the decoder under test) and written next to the blobs as
``golden.parquet``; oracle SQL reads it by path -- DuckDB scans parquet
files directly -- so the gate compares the decode kernel against
independently-derived truth. Everything is keyed by a fixed seed +
version, written atomically (tmp dir + rename), and regenerated on
demand in any fresh environment.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

FIXTURE_VERSION = 1
N_PER_KIND = 40
SEED = 20260816
HIST_BINS = 16
_WAV_RATE = 8000


def media_fixture_dir() -> str:
    from .artifacts import artifact_root

    return os.path.join(
        artifact_root(), f"media-fixture-v{FIXTURE_VERSION}-n{N_PER_KIND}-s{SEED}"
    )


def _encode_image(rng: np.random.Generator) -> tuple[bytes, np.ndarray]:
    w = int(rng.integers(8, 64))
    h = int(rng.integers(2, 32))  # height > 1: the 2-D raster path
    samples = rng.integers(0, 256, w * h, dtype=np.int64).astype(np.uint8)
    return b"P5\n%d %d\n255\n" % (w, h) + samples.tobytes(), samples


def _encode_audio(rng: np.random.Generator) -> tuple[bytes, np.ndarray]:
    n = int(rng.integers(100, 3000))
    samples = rng.integers(0, 256, n, dtype=np.int64).astype(np.uint8)
    # an odd-sized LIST chunk before data: the walker must skip body +
    # word-alignment pad byte to find the data chunk
    info = b"INFOart"  # 7 bytes -> odd
    list_chunk = b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, _WAV_RATE, _WAV_RATE, 1, 8)
    data = b"data" + struct.pack("<I", n) + samples.tobytes()
    body = fmt + list_chunk + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body, samples


def _encode_video(rng: np.random.Generator) -> tuple[bytes, np.ndarray]:
    w = int(rng.integers(8, 32))
    h = int(rng.integers(2, 16))
    k = int(rng.integers(2, 6))  # multi-frame: the frame loop
    samples = rng.integers(0, 256, w * h * k, dtype=np.int64).astype(np.uint8)
    out = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n" % (w, h)]
    for f in range(k):
        # one frame with a parameter token: the marker check must split
        marker = b"FRAME Xfix\n" if f == 1 else b"FRAME\n"
        out.append(marker)
        out.append(samples[f * w * h : (f + 1) * w * h].tobytes())
    return b"".join(out), samples


_ENCODERS = {"image": _encode_image, "audio": _encode_audio, "video": _encode_video}
KINDS = ("image", "audio", "video")


def ensure_media_fixture() -> tuple[str, str]:
    """Generate (once) and return ``(blobs_path, golden_path)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = media_fixture_dir()
    blobs_path = os.path.join(d, "blobs.parquet")
    golden_path = os.path.join(d, "golden.parquet")
    if os.path.exists(blobs_path) and os.path.exists(golden_path):
        return blobs_path, golden_path

    rng = np.random.default_rng(SEED)
    blob_rows = {"media_id": [], "kind": [], "payload": [], "n_bytes": []}
    gold_rows = {
        "media_id": [], "kind": [], "n_samples": [], "sample_sum": [],
        "header_overhead": [], "mean_micros": [], "hist": [],
    }
    for i in range(3 * N_PER_KIND):
        kind = KINDS[i % 3]
        payload, samples = _ENCODERS[kind](rng)
        n = int(samples.shape[0])
        s = int(samples.astype(np.int64).sum())
        blob_rows["media_id"].append(i)
        blob_rows["kind"].append(kind)
        blob_rows["payload"].append(payload)
        blob_rows["n_bytes"].append(n)
        gold_rows["media_id"].append(i)
        gold_rows["kind"].append(kind)
        gold_rows["n_samples"].append(n)
        gold_rows["sample_sum"].append(s)
        gold_rows["header_overhead"].append(len(payload) - n)
        # exact half-up integer mean in micro-units: no float anywhere
        gold_rows["mean_micros"].append((2_000_000 * s + n) // (2 * n))
        hist = np.bincount(samples // (256 // HIST_BINS), minlength=HIST_BINS)
        gold_rows["hist"].append(
            json.dumps(hist[:HIST_BINS].astype(int).tolist(), separators=(",", ":"))
        )

    tmp = d + f".tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(blob_rows["media_id"], pa.int64()),
                "kind": pa.array(blob_rows["kind"], pa.string()),
                "payload": pa.array(blob_rows["payload"], pa.binary()),
                "n_bytes": pa.array(blob_rows["n_bytes"], pa.int64()),
            }
        ),
        os.path.join(tmp, "blobs.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(gold_rows["media_id"], pa.int64()),
                "kind": pa.array(gold_rows["kind"], pa.string()),
                "n_samples": pa.array(gold_rows["n_samples"], pa.int64()),
                "sample_sum": pa.array(gold_rows["sample_sum"], pa.int64()),
                "header_overhead": pa.array(gold_rows["header_overhead"], pa.int64()),
                "mean_micros": pa.array(gold_rows["mean_micros"], pa.int64()),
                "hist": pa.array(gold_rows["hist"], pa.string()),
            }
        ),
        os.path.join(tmp, "golden.parquet"),
    )
    try:
        os.rename(tmp, d)  # atomic publish; loser of a race cleans up
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        if not (os.path.exists(blobs_path) and os.path.exists(golden_path)):
            raise
    return blobs_path, golden_path
