#!/usr/bin/env python
"""End-to-end MULTIMODAL ingest pipeline over binary media columns — the
image/audio/video plumbing chain, each stage running the engine's real
pure-stdlib codecs (operators/media_codecs.py) inside Arrow kernels:

1.  synthesize     — deterministic WAV / PPM / BMP / netpbm-stream
                     payloads derived from the documents table (stands in
                     for an S3 binary ingest; same schema either way)
2.  probe          — header-only sniff → typed MEDIA_META_SCHEMA columns
                     (codec, width/height, duration) without decoding
3.  decode + stats — decode_media through the decoded_stats Arrow kernel:
                     per-item shape/dtype/n_elems/value_sum
4.  frame sample   — evenly-spaced frame rows from each video payload,
                     nearest-resized feature maps
5.  dedup          — exact payload dedup partitioned on the payload BYTES
                     (byte-identical media collapses before any expensive
                     decode; no hash-collision risk)
6.  write          — parquet with the binary column + metadata struct

Run locally:
    python examples/media_pipeline.py --input /root/testdata/sf0.01 \
        --output /tmp/media_out

Compressed formats (JPEG/PNG/H.264) raise NotImplementedError naming the
sniffed codec — a deployment plugs Pillow/ffmpeg into decode_media and
this pipeline runs unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Iterator

try:  # running from a checkout without installation
    import geografir_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F


def synthesize_media(docs):
    """documents → (page_id, media_type, payload): one real WAV, PPM, BMP
    or netpbm video stream per doc, bytes derived deterministically from
    the doc text so every run (and every parallelism level) agrees."""
    from geografir_spark.operators.media_codecs import (
        encode_bmp, encode_netpbm, encode_netpbm_stream, encode_wav,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                seed = np.frombuffer(
                    str(text).encode()[:4096], dtype=np.uint8
                )
                if len(seed) < 64:
                    seed = np.pad(seed, (0, 64 - len(seed)))
                kind = int(did) % 4
                if kind == 0:
                    samples = (seed.astype(np.int16) - 128) * 256
                    payload = encode_wav(samples, sample_rate=8000)
                    mt = "audio"
                elif kind == 1:
                    side = max(int(np.sqrt(len(seed) // 3)), 2)
                    img = seed[: side * side * 3].reshape(side, side, 3)
                    payload = encode_netpbm(img)
                    mt = "image"
                elif kind == 2:
                    side = max(int(np.sqrt(len(seed) // 3)), 2)
                    img = seed[: side * side * 3].reshape(side, side, 3)
                    payload = encode_bmp(np.ascontiguousarray(img))
                    mt = "image"
                else:
                    img = seed[:48].reshape(4, 4, 3)
                    frames = np.stack([img, img[::-1], img[:, ::-1]])
                    payload = encode_netpbm_stream(frames)
                    mt = "video"
                recs.append((int(did), mt, bytearray(payload)))
            yield pd.DataFrame.from_records(
                recs, columns=["page_id", "media_type", "payload"]
            )

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="page_id bigint, media_type string, payload binary"
    )


def probe(media):
    """Header-only metadata: no decode, one Arrow pass."""
    from geografir_spark.operators.media_codecs import probe_media

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            metas = [probe_media(bytes(p)) for p in pdf["payload"]]
            out = pdf[["page_id", "media_type"]].copy()
            out["codec"] = [m["codec"] for m in metas]
            out["width"] = pd.array(
                [m["width"] for m in metas], dtype="Int32")
            out["height"] = pd.array(
                [m["height"] for m in metas], dtype="Int32")
            out["duration_ms"] = pd.array(
                [m["duration_ms"] for m in metas], dtype="Int64")
            yield out

    return media.mapInPandas(
        kernel,
        schema="page_id bigint, media_type string, codec string,"
        " width int, height int, duration_ms bigint",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default="/tmp/media_out")
    args = ap.parse_args()

    from geografir_spark.operators.multimodal import (
        decode_media, decoded_stats, resize_frames, sample_frames,
    )
    from geografir_spark.session import default_parallelism

    spark = (
        SparkSession.builder.master(f"local[{default_parallelism()}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .appName("media_pipeline")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{args.input}/documents.parquet")
    media = synthesize_media(docs).repartition(8).localCheckpoint()

    # exact payload dedup BEFORE any decode — the window partitions on the
    # payload BYTES themselves (not a 64-bit hash, whose collisions would
    # silently drop distinct media), then localCheckpoint: the deduped set
    # feeds ~6 downstream actions and must not recompute per action
    deduped = (
        media.withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("payload").orderBy("page_id")
            ),
        )
        .where(F.col("__r") == 1)
        .drop("__r")
        .localCheckpoint()
    )

    meta = probe(deduped).localCheckpoint()
    stats = decoded_stats(deduped, decode_media)
    frames = sample_frames(
        deduped.where(F.col("media_type") == "video"),
        n_frames=3, frame_size=64,
    )
    resized = resize_frames(frames, out_h=8, out_w=8)

    meta.join(
        deduped.select("page_id", "payload"), "page_id"
    ).write.mode("overwrite").parquet(f"{args.output}/media")
    stats.write.mode("overwrite").parquet(f"{args.output}/decoded_stats")
    resized.write.mode("overwrite").parquet(f"{args.output}/frames")

    report = {
        "n_docs": docs.count(),
        "n_media": media.count(),
        "n_after_exact_dedup": deduped.count(),
        "by_codec": {
            r["codec"]: r["n"]
            for r in meta.groupBy("codec").agg(
                F.count("*").alias("n")).collect()
        },
        "decoded_elems_total": stats.agg(
            F.sum("n_elems").alias("s")).collect()[0]["s"],
        "n_frame_rows": resized.count(),
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
