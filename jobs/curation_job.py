"""Image-corpus curation ETL job — the training-data analog of pyramid_job.

The deployment shape of the north rule's curation story: ingest an
image+caption corpus, run the curation gates (metadata, CLIP-score
alignment, visual phash dedup), and export the surviving set as
fixed-count shards — with ONE COMMIT PER STAGE (sinks/checkpoint.py:
parquet write + _SUCCESS + metrics/lineage sidecar = Iceberg snapshot),
so a killed run resumes after the last committed stage.

Stages (each a LevelCheckpointer commit):
  1 corpus   — distributed synthesis (fixtures.images_df; in production a
               spark.read of the crawl table), payload + caption + phash
  2 dedup    — phash pigeonhole pairs -> large-star/small-star components
               -> keeper per visual cluster; commits a SLIM (id, cluster,
               is_keeper) table, never the payload
  3 gates    — metadata gate (min side, aspect) + CLIP-score gate
               (crossmodal_align over deterministic embeddings) joined
               with the dedup keepers; commits slim per-image flags
  4 export   — survivors joined back to the payload, sharded by
               hash(id) % n_shards, written partitionBy(shard)

    spark-submit --py-files dist/versatiles_rs_spark.zip \
        jobs/curation_job.py --n-images 100000 --out /data/curated

Prints one JSON metrics line (funnel counts from the commit metadata).
"""

from __future__ import annotations

import argparse
import json
import time


def _embed_expr(seed_col, dim: int = 16):
    """Deterministic unit-free pseudo-embedding: dim values from a splitmix
    style integer stream of the id — stands in for a real CLIP tower (no
    model in this container); the JOB plumbing (join, gate, commit) is the
    artifact under test."""
    from pyspark.sql import functions as F

    base = F.pmod(seed_col, F.lit(1000003))  # bounded so ANSI mode can't overflow
    vals = [
        (
            F.pmod(base * F.lit(2654435761 % 999983 + 31 * k) + F.lit(1013904223 + 17 * k), F.lit(10007)).cast("double")
            / F.lit(10007.0)
            - F.lit(0.5)
        )
        for k in range(dim)
    ]
    return F.array(*vals)


def run(spark, n_images: int, out: str, n_shards: int = 16, size: int = 64):
    from pyspark.sql import functions as F

    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.functions.ann import crossmodal_align
    from versatiles_rs_spark.functions.graph import dedup_clusters
    from versatiles_rs_spark.functions.phash import phash_neardup_pairs
    from versatiles_rs_spark.sinks.checkpoint import LevelCheckpointer

    ck = LevelCheckpointer(spark, out + "/stages", job_id="curation")
    parts = spark.sparkContext.defaultParallelism * 4

    # stage 1: corpus ingest (payload committed once; later stages are slim)
    if ck.is_committed(1):
        corpus = ck.checkpoint(1, None)
    else:
        raw = fixtures.images_df(spark, n_images, size=size, partitions=parts)
        corpus = ck.checkpoint(
            1,
            raw.withColumn("id", F.expr("cast(substring(image_id, 4) as long)")),
        )

    slim = corpus.select("id", "phash", "w", "h")

    # the raw fixture fingerprints are uniform random (no visual dups), so
    # plant the group-of-4 star pattern the registry's synthetic phash
    # table uses: members share the group leader's fingerprint xor a 2-bit
    # member mask — every group is a Hamming<=4 near-dup cluster. One slim
    # equi-join on the leader id; payload untouched.
    leader = slim.select(F.col("id").alias("lid"), F.col("phash").alias("lphash"))
    member_mask = (
        F.when(F.pmod(F.col("id"), 4) == 1, F.lit(3))
        .when(F.pmod(F.col("id"), 4) == 2, F.lit(12))
        .when(F.pmod(F.col("id"), 4) == 3, F.lit(48))
        .otherwise(F.lit(0))
        .cast("long")
    )
    vh = (
        slim.withColumn("lid", F.col("id") - F.pmod(F.col("id"), F.lit(4)))
        .join(leader, on="lid")
        .select("id", F.col("lphash").bitwiseXOR(member_mask).alias("vhash"), "w", "h")
    )

    # stage 2: visual dedup — slim columns only, payload never shuffles
    if ck.is_committed(2):
        keep = ck.checkpoint(2, None, payload=None)
    else:
        pairs = phash_neardup_pairs(vh, phash_col="vhash", id_col="id", max_hamming=4)
        keep = ck.checkpoint(
            2,
            dedup_clusters(pairs.select("id_a", "id_b"))
            .select(F.col("id"), F.col("cluster"), F.col("is_keeper").cast("int").alias("is_keeper")),
            payload=None,
        )

    # stage 3: metadata + CLIP gates joined with the dedup keepers
    if ck.is_committed(3):
        flags = ck.checkpoint(3, None, payload=None)
    else:
        gated = slim.withColumn(
            "pass_meta",
            (
                (F.col("w") >= 32)
                & (F.col("h") >= 32)
                & (F.col("w") <= 3 * F.col("h"))
                & (F.col("h") <= 3 * F.col("w"))
            ).cast("int"),
        ).withColumn("img_vec", _embed_expr(F.col("id"))).withColumn(
            "txt_vec", _embed_expr(F.col("id") * F.lit(2) + F.lit(1))
        )
        scored = crossmodal_align(gated, tau=0.0).select(
            "id", "pass_meta", F.col("keep").alias("pass_clip")
        )
        flags = ck.checkpoint(
            3,
            scored.join(
                keep.select("id", "is_keeper"), on="id", how="left"
            ).select(
                "id",
                "pass_meta",
                "pass_clip",
                F.coalesce(F.col("is_keeper"), F.lit(1)).alias("is_keeper"),
            ),
            payload=None,
        )

    # stage 4: sharded export of the survivors (payload re-enters here, read
    # from stage 1's committed parquet — storage IO, not a shuffle of blobs:
    # the join key is slim and partitionBy writes without an extra exchange
    # of the payload beyond the hash-partition on shard)
    survivors = flags.filter(
        (F.col("pass_meta") == 1) & (F.col("pass_clip") == 1) & (F.col("is_keeper") == 1)
    ).select("id")
    if not ck.is_committed(4):
        shard = F.pmod(F.xxhash64("id"), F.lit(n_shards)).alias("shard")
        ck.checkpoint(
            4,
            corpus.join(survivors, on="id").select(
                "id", "image_id", "caption", "fmt", "bytes", shard
            ),
            payload="bytes",
            partition_by="shard",
        )
    exported = ck.checkpoint(4, None)

    return ck, {
        "n_corpus": ck.metrics(1)["n_rows"],
        "n_visual_keepers": keep.filter(F.col("is_keeper") == 1).count(),
        "n_flagged": ck.metrics(3)["n_rows"],
        "n_exported": ck.metrics(4)["n_rows"],
        "export_bytes": ck.metrics(4)["payload_bytes"],
        "n_shards": exported.select("shard").distinct().count(),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100000)
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from versatiles_rs_spark.session import get_job_spark

    spark = get_job_spark("curation")
    t0 = time.time()
    _, metrics = run(spark, args.n_images, args.out, n_shards=args.n_shards)
    print(json.dumps({"job": "curation", **metrics, "sec": round(time.time() - t0, 2)}))


if __name__ == "__main__":
    main()
