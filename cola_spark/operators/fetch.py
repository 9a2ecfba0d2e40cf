"""Fetch + decode + link-discovery stages.

Reference: Opener.open(url) -> page bytes (cola/core/opener.py
~L20-200), then Parser.parse(url) -> (records, new units) — a UDTF, one
page in, N link rows out (cola/core/parsers.py ~L1-30 + contrib
parsers). The sandbox has no network, so fetch is a *deterministic
synthetic opener*: the payload for a URL is the `images` table row keyed
by pmod(xxhash64(url_canon), n_images) — the join stands in for the
network round-trip and keeps every stage verifiable.

Decode is the vectorized Arrow path (mapInPandas, batch of rows per
Python call, never per-row) and checks the per-row invariant from
BASELINE.json input_hint: decoded pixels bit-exact for png / PSNR >= 40
dB for lossy, caption exactly equal to ground truth.

Link discovery is pure column arithmetic (crc32 coins — chosen over
xxhash64 because the pure-Python oracle in plans/oracle.py must flip
identical coins with zlib.crc32): each fetched page yields 0-2 same-host
child URLs, exercising multi-round dedup.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FAIL_MOD = 20  # 1-in-20 synthetic fetch failures


def fail_coin(url_canon_col):
    return F.pmod(F.crc32(url_canon_col), F.lit(FAIL_MOD)) == 0


def synthetic_fetch(
    scheduled: DataFrame, images: DataFrame, n_images: int, decode: bool = True,
    broadcast_images: bool = True,
) -> DataFrame:
    """Fetch scheduled URLs against the images table and decode.

    Adds: image_id, fetch_ok (deterministic 5% failures), and — when
    decode=True — fmt, psnr, invariant_ok from the vectorized decoder.

    The images side is broadcast by default: binary payloads push the
    table past Spark's 10 MB auto-broadcast threshold, which silently
    degrades this into a full shuffle join of the big scheduled side —
    pass broadcast_images=False only when the payload table genuinely
    exceeds executor memory.
    """
    df = scheduled.withColumn(
        "image_id",
        F.format_string("img%08d", F.pmod(F.xxhash64(F.col("url_canon")), F.lit(n_images))),
    ).withColumn("fetch_ok", ~fail_coin(F.col("url_canon")))
    if not decode:
        return df

    img_side = images.select("image_id", "bytes", "w", "h", "fmt", "caption")
    if broadcast_images:
        img_side = F.broadcast(img_side)
    payload = df.filter(F.col("fetch_ok")).join(img_side, "image_id", "left")
    base_cols = [c for c in df.columns]

    def decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from cola_spark.codecs import decode_image
        from cola_spark.codecs.pixels import gen_pixels, psnr
        from cola_spark.sources.generators import caption_of

        for pdf in it:
            psnrs, ok = [], []
            for data, fmt, image_id, w, h, caption in zip(
                pdf["bytes"], pdf["fmt"], pdf["image_id"], pdf["w"], pdf["h"], pdf["caption"]
            ):
                if data is None:
                    psnrs.append(float("nan"))
                    ok.append(False)
                    continue
                px = decode_image(bytes(data), fmt)
                truth = gen_pixels(image_id, int(w), int(h))
                if fmt == "png":
                    pixels_ok = bool(np.array_equal(px, truth))
                    p = float("inf") if pixels_ok else psnr(truth, px)
                else:
                    p = psnr(truth, px)
                    pixels_ok = p >= 40.0
                psnrs.append(min(p, 99.0))
                ok.append(pixels_ok and caption == caption_of(image_id))
            out = pdf[base_cols + ["fmt"]].copy()
            out["psnr"] = psnrs
            out["invariant_ok"] = ok
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += ", fmt string, psnr double, invariant_ok boolean"
    decoded = payload.mapInPandas(decode_batch, schema)
    failed = (
        df.filter(~F.col("fetch_ok"))
        .withColumn("fmt", F.lit(None).cast("string"))
        .withColumn("psnr", F.lit(None).cast("double"))
        .withColumn("invariant_ok", F.lit(None).cast("boolean"))
    )
    return decoded.unionByName(failed)


CHILD_SEQ_OFFSET = 10**12


def discover_links(fetched_ok: DataFrame, pages_per_host: int = 50) -> DataFrame:
    """Parser UDTF analogue: each fetched page emits 0-2 child URLs on
    the same host. Child seq = parent_seq * 4 + i + 10^12 — injective
    across parents and generations, and larger than any parent seq, so
    FIFO (discovery order) is preserved by the seq tiebreaker.
    """
    c = F.crc32(F.col("url_canon"))
    n_children = (
        F.when(F.pmod(c, F.lit(4)) == 0, 2).when(F.pmod(c, F.lit(4)) == 1, 1).otherwise(0)
    )
    page = F.regexp_extract(F.col("url_canon"), r"/p/(\d+)", 1).cast("long")
    kids = (
        fetched_ok.withColumn("_n", n_children)
        .filter(F.col("_n") > 0)
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
    )
    child_page = F.pmod(page * 7 + 13 * (F.col("_i") + 1), F.lit(pages_per_host))
    child_url = F.format_string("http://%s/p/%d", F.col("host"), child_page)
    return kids.select(
        child_url.alias("url"),
        F.pmod(F.crc32(child_url), F.lit(3)).cast("int").alias("priority"),
        (F.col("seq") * 4 + F.col("_i") + F.lit(CHILD_SEQ_OFFSET)).alias("seq"),
        F.lit(False).alias("force"),
        F.lit(0).alias("error_times"),
    )


def fetch_decode_verify(
    scheduled: DataFrame, n_images: int, dims: tuple = (16, 24, 32),
    parts: int | None = None, carry_all: bool = False,
) -> DataFrame:
    """Fused opener→decode→verify stage — the production-faithful fetch.

    A real crawler fetches payload bytes *inside* the worker (cola's
    opener runs in the executor process, cola/core/opener.py) — so this
    stage takes only URL rows in and emits only scalars out: zero binary
    columns cross the JVM↔Python Arrow boundary, which at benchmark
    scale removes tens of GB of serialization that the join-based
    synthetic_fetch pays. The synthetic opener synthesizes the payload
    from the url key (network stand-in), then decodes and checks the
    PSNR/caption invariant exactly like synthetic_fetch(decode=True).

    Input is repartitioned evenly by seq into ``parts`` tasks (default
    None: the session's defaultParallelism, i.e. one wave of Python
    tasks): the scheduled set arrives partitioned by host (Zipf-skewed)
    from the budget cut, and Python-stage stragglers on hot-host
    partitions destroy parallelism. One wave is the right size because
    a row is cheap and a task is not: at local[4] one row costs ~0.35 ms
    (md5, gen_pixels, encode, decode, PSNR) while one Python task costs
    ~0.25 s whatever it holds, so extra waves add task overhead, not
    throughput. A big round still streams: Arrow batching
    (maxRecordsPerBatch) bounds a task's memory. The output rows do not
    depend on ``parts``.

    carry_all=True keeps every input column (plus a JVM-side fetch_ok
    coin identical to synthetic_fetch's) so the stage is a drop-in
    scheduler fetch (CrawlConfig.fetch_mode="fused"): failed fetches
    skip decode, exactly like the join path.

    Payload linkage parity with the join path: the url→image key is the
    SAME pmod(xxhash64(url_canon), n_images) — computed JVM-side as a
    column before the Python stage (xxhash64 has no cheap Python twin),
    so fused- and join-mode logs carry identical image_id/fmt/psnr for
    the same crawl. ``dims`` must match the images table's universe
    (gen_images default). The invariant here is the pixel round-trip
    (encode→decode PSNR/bit-exactness); caption equality is checked in
    join mode where the caption column actually flows.
    """
    if carry_all:
        scheduled = scheduled.withColumn("fetch_ok", ~fail_coin(F.col("url_canon")))
        cols = [c for c in scheduled.columns]
    else:
        cols = ["url_canon", "host", "priority", "seq"]
    withkey = scheduled.select(*cols).withColumn(
        "_img_idx", F.pmod(F.xxhash64(F.col("url_canon")), F.lit(n_images))
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as pd_

        from cola_spark.codecs import decode_image, encode_image
        from cola_spark.codecs.pixels import gen_pixels, psnr

        dl = list(dims)
        for pdf in it:
            res = []
            oks = pdf["fetch_ok"] if "fetch_ok" in pdf.columns else [True] * len(pdf)
            for idx, fok in zip(pdf["_img_idx"], oks):
                image_id = f"img{int(idx):08d}"
                if not fok:  # failed fetch: no payload, no decode
                    res.append((image_id, None, None, None))
                    continue
                d = hashlib.md5(image_id.encode()).digest()
                w, h = dl[d[2] % len(dl)], dl[d[3] % len(dl)]
                fmt = "png" if d[4] % 2 == 0 else "jpgq"
                px = gen_pixels(image_id, w, h)                # ground truth
                payload = encode_image(px, fmt)                # opener (network stand-in)
                dec = decode_image(payload, fmt)               # decode
                p = psnr(px, dec)                              # verify
                ok = (fmt == "png" and p == float("inf")) or (fmt != "png" and p >= 40.0)
                res.append((image_id, fmt, min(p, 99.0), bool(ok)))
            out = pdf[cols].copy().reset_index(drop=True)
            out[["image_id", "fmt", "psnr", "invariant_ok"]] = pd_.DataFrame(
                res, columns=["image_id", "fmt", "psnr", "invariant_ok"]
            )
            yield out

    if carry_all:
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in scheduled.select(*cols).schema.fields
        )
    else:
        schema = "url_canon string, host string, priority int, seq long"
    schema += ", image_id string, fmt string, psnr double, invariant_ok boolean"
    if parts is None:
        parts = scheduled.sparkSession.sparkContext.defaultParallelism
    return withkey.repartition(parts, F.col("seq")).mapInPandas(batches, schema)
