"""Arrow-batched media processing stages (decode / feature-extract /
resize / frame-sample) over opaque BINARY columns.

The container ships no image/audio/video codecs, so the codec branch of
each stage is import-gated (raises NotImplementedError naming the
missing library); the default "fake" backend is a deterministic stand-in
that exercises the REAL Spark plumbing — binary Arrow transfer, batch
iteration, output schemas, per-partition model reuse — which is the part
that has to be right at 100 TB.

Fake decode semantics (deterministic, documented):
  image  pixels = payload bytes row-major into (height, width),
         truncated/zero-padded; features = mean/min/max byte value
  audio  samples = bytes as uint8 centered at 128; features = mean
         amplitude + rms
  video  frames = fixed-stride byte chunks; frame-sample takes every
         k-th chunk's digest
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame

from ..functions.portable import round_half_up as _round_half_up


def _require(lib: str):
    raise NotImplementedError(
        f"real-codec backend needs {lib}, which is not installed in this "
        f"container; use backend='fake' for the deterministic stand-in"
    )


def image_features(media: DataFrame, backend: str = "fake") -> DataFrame:
    """(doc_id, mean_px, min_px, max_px) for image rows."""
    if backend == "real":
        try:
            import PIL  # noqa: F401
        except ImportError:
            _require("Pillow")
    elif backend != "fake":
        raise ValueError(f"unknown backend: {backend}")

    imgs = media.filter(media["media_type"] == "image").select(
        "doc_id", "content", "width", "height"
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, means, mins, maxs = [], [], [], []
            for i, blob, w, h in zip(
                pdf["doc_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                n = int(w) * int(h)
                px = np.frombuffer(blob or b"", dtype=np.uint8)
                px = np.pad(px[:n], (0, max(0, n - len(px))))
                ids.append(i)
                # HALF_UP, not Python round()'s banker's rounding —
                # the repo-wide discipline for floats meant to match
                # engine rounding (see portable.round_half_up)
                means.append(_round_half_up(float(px.mean())) if n else 0.0)
                mins.append(int(px.min()) if n else 0)
                maxs.append(int(px.max()) if n else 0)
            yield pd.DataFrame(
                {"doc_id": ids, "mean_px": means, "min_px": mins, "max_px": maxs}
            )

    return imgs.mapInPandas(run, "doc_id bigint, mean_px double, min_px int, max_px int")


def resize_images(media: DataFrame, out_w: int, out_h: int, backend: str = "fake") -> DataFrame:
    """(doc_id, content) with payloads resized to out_w x out_h.

    Fake backend: nearest-neighbor index sampling over the byte grid —
    a real resample of the fake pixel space, producing exactly
    out_w*out_h bytes (the output-shape contract downstream stages
    depend on)."""
    if backend == "real":
        try:
            import PIL  # noqa: F401
        except ImportError:
            _require("Pillow")
    elif backend != "fake":
        raise ValueError(f"unknown backend: {backend}")

    imgs = media.filter(media["media_type"] == "image").select(
        "doc_id", "content", "width", "height"
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, blobs = [], []
            for i, blob, w, h in zip(
                pdf["doc_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                px = np.frombuffer(blob or b"", dtype=np.uint8)
                px = np.pad(px[: w * h], (0, max(0, w * h - len(px)))).reshape(h, w)
                ys = (np.arange(out_h) * h // out_h)
                xs = (np.arange(out_w) * w // out_w)
                ids.append(i)
                blobs.append(px[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    return imgs.mapInPandas(run, "doc_id bigint, content binary")


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every_k: int = 4, backend: str = "fake"
) -> DataFrame:
    """(doc_id, frame_idx, frame_digest): every k-th fixed-stride chunk
    of video payloads — the frame-sampling shape (decode -> stride ->
    per-frame feature) with digests standing in for decoded frames."""
    if backend == "real":
        try:
            import av  # noqa: F401
        except ImportError:
            _require("PyAV/ffmpeg")
    elif backend != "fake":
        raise ValueError(f"unknown backend: {backend}")

    vids = media.filter(media["media_type"] == "video").select("doc_id", "content")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, digs = [], [], []
            for i, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = blob or b""
                n_frames = max(1, (len(blob) + frame_bytes - 1) // frame_bytes)
                for fi in range(0, n_frames, every_k):
                    chunk = blob[fi * frame_bytes : (fi + 1) * frame_bytes]
                    ids.append(i)
                    idxs.append(fi)
                    digs.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_digest": digs}
            )

    return vids.mapInPandas(run, "doc_id bigint, frame_idx int, frame_digest string")
