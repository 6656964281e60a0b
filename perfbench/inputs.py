"""Seeded workload inputs, generated without Spark and cached as parquet under
the benchmark's work directory. The same seed always yields the same files;
generation runs before any timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _publish(tmp: str, final: str) -> str:
    """Atomically move a finished cache entry into place."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)
    return final


def image_tables(work: str, n: int, seed: int, partitions: int, size_scale: int) -> tuple[str, str]:
    """(images_dir, reference_dir): the synthetic image+caption table and
    its truth table, written as ``partitions`` parquet files each, exactly
    the rows ``sources.images.generate_images`` / ``generate_reference``
    produce for this config. Keyed by the codec version, because the stored
    phash derives from the decoder's bits."""
    from approximate_anomaly_detection_in_data_streams_spark.functions import image_codec
    from approximate_anomaly_detection_in_data_streams_spark.sources import images as src

    cfg = image_config(n, seed, partitions, size_scale)
    key = f"images_n{n}_p{partitions}_x{size_scale}_s{seed}_v{image_codec.CODEC_VERSION}"
    final = os.path.join(work, "inputs", key)
    if not os.path.exists(final):
        tmp = final + f".tmp{os.getpid()}"
        os.makedirs(os.path.join(tmp, "images"))
        os.makedirs(os.path.join(tmp, "reference"))
        img_schema = pa.schema(
            [
                ("image_id", pa.string()),
                ("bytes", pa.binary()),
                ("w", pa.int32()),
                ("h", pa.int32()),
                ("fmt", pa.string()),
                ("caption", pa.string()),
                ("phash", pa.int64()),
            ]
        )
        ref_schema = pa.schema(
            [
                ("image_id", pa.string()),
                ("ref_bytes", pa.binary()),
                ("ref_caption", pa.string()),
                ("ref_phash", pa.int64()),
            ]
        )
        # the same contiguous ordinal ranges spark.range(0, n, 1, partitions)
        # hands to each generator task
        bounds = [n * p // partitions for p in range(partitions + 1)]
        for p in range(partitions):
            idx = range(bounds[p], bounds[p + 1])
            rows = [src._row(cfg, i) for i in idx]
            refs = [src.reference_row(cfg, i) for i in idx]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=img_schema),
                os.path.join(tmp, "images", f"part-{p:05d}.parquet"),
            )
            pq.write_table(
                pa.Table.from_pylist(refs, schema=ref_schema),
                os.path.join(tmp, "reference", f"part-{p:05d}.parquet"),
            )
        _publish(tmp, final)
    return os.path.join(final, "images"), os.path.join(final, "reference")


def image_config(n: int, seed: int, partitions: int, size_scale: int):
    from approximate_anomaly_detection_in_data_streams_spark.sources.images import (
        ImageTableConfig,
    )

    return ImageTableConfig(n=n, seed=seed, partitions=partitions, size_scale=size_scale)


def vector_stream(n: int, dim: int, seed: int) -> np.ndarray:
    """(n, dim) float64 points of ``sources.vectors`` (12 latent centers plus
    noise, float32-rounded components); row i is stream id i + 1."""
    from approximate_anomaly_detection_in_data_streams_spark.sources.vectors import (
        vector_values,
    )

    return np.array([vector_values(seed, i, dim) for i in range(n)], dtype=np.float64)


# Near-duplicate document corpus shaped like the repository's testdata documents:
# text over a small vocabulary, so most character trigrams are frequent and
# fall above the Jaccard stop-shingle cap, plus a few rare tokens per
# document. A share of documents copy an earlier one with a few word edits
# (0 edits = exact duplicate), which plants pairs for every dedup tier.
_WORDS = (
    "data spark table value row column key part order line scan join agg sort "
    "filter query index batch stream window fast slow small large cache shard "
    "merge split hash node task stage job level page block file schema record"
).split()
_DUP_FRAC = 0.2
_RARE_PER_DOC = 3


def documents_text(n: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed * 7919 + 17)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < _DUP_FRAC:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), size=int(rng.integers(15, 60)))]
            for _ in range(_RARE_PER_DOC):
                words.insert(
                    int(rng.integers(0, len(words) + 1)), "".join(rng.choice(letters, size=6))
                )
        texts.append(" ".join(words))
    return texts


def documents_dir(work: str, n: int, seed: int, partitions: int) -> str:
    """Directory holding ``documents.parquet`` (doc_id long, text string) —
    the table layout the ``__spark_entry__`` queries load."""
    path = os.path.join(work, "inputs", f"documents_n{n}_s{seed}_p{partitions}")
    if not os.path.exists(path):
        tmp = path + f".tmp{os.getpid()}"
        os.makedirs(os.path.join(tmp, "documents.parquet"))
        texts = documents_text(n, seed)
        bounds = [n * p // partitions for p in range(partitions + 1)]
        for p in range(partitions):
            lo, hi = bounds[p], bounds[p + 1]
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(np.arange(lo, hi), type=pa.int64()),
                        "text": pa.array(texts[lo:hi], type=pa.string()),
                    }
                ),
                os.path.join(tmp, "documents.parquet", f"part-{p:05d}.parquet"),
            )
        _publish(tmp, path)
    return path
