"""Perceptual-hash (pHash) Hamming near-duplicate detection for image tables.

The north-rule input table carries a precomputed `phash:int64` column per
image (image_id, bytes, w, h, fmt, caption, phash) — the standard compact
signal for image near-dup in a training-data pipeline. This module finds all
id pairs whose phashes are within a Hamming radius, with the same scale
guards as the text dedup family (functions/dedup.py).

Algorithm (multi-index hashing / pigeonhole, exact recall):
split the 64 fingerprint bits into `max_hamming + 1` contiguous blocks; any
pair at distance <= max_hamming must agree on at least one whole block, so
candidates come from equality joins on (block#, block value) — never a cross
join. Candidates are verified with popcount(xor) <= max_hamming. Both stages
are pure JVM column expressions (shiftrightunsigned / bitwiseAND /
bit_count): no Python anywhere in the plan, unlike the text paths whose
signatures need an Arrow UDF.

100 TB shape: only (id, phash) ever shuffles (16 bytes/row); byte-identical
phashes are pre-collapsed to one representative before banding (a cluster of
m re-posted images would otherwise emit m^2 candidates per block); hot block
values are capped via broadcast ANTI-join with logged/returned drop counts.
These reuse the guards in functions/dedup.py verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _cap_buckets, _collapse_exact, _expand_pairs


def _block_bounds(nblocks: int, nbits: int = 64) -> list[int]:
    """Contiguous block boundaries covering ALL nbits (pigeonhole needs full
    coverage: an uncovered bit would let a pair differ there un-noticed)."""
    return [(nbits * i) // nblocks for i in range(nblocks + 1)]


def phash_neardup_pairs(
    df: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 8,
    pre_collapse: bool = True,
    bucket_cap: int = 500,
    max_broadcast_pairs: int = 2_000_000,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs with popcount(a ^ b) <= max_hamming.

    Exact (not probabilistic) modulo the explicit bucket_cap recall trade:
    pigeonhole blocking guarantees every qualifying pair shares a block.
    Output ids are ordered id_a < id_b; `hamming` is int.
    """
    nblocks = max_hamming + 1
    bounds = _block_bounds(nblocks)
    if pre_collapse:
        sig_all = df.select(
            F.col(id_col),
            F.col(phash_col).alias("_h"),
            F.col(phash_col).alias("ph"),
        )
        sig, members = _collapse_exact(sig_all, id_col, "ph")
    else:
        sig = df.select(F.col(id_col), F.col(phash_col).alias("ph"))
    bvals = F.array(
        *[
            F.shiftrightunsigned(F.col("ph"), bounds[i]).bitwiseAND(
                F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
            )
            for i in range(nblocks)
        ]
    )
    banded = sig.withColumn("bv", bvals).select(
        id_col, "ph", F.posexplode("bv").alias("band", "val")
    )
    if bucket_cap:
        banded = _cap_buckets(banded, ["band", "val"], bucket_cap, "phash_neardup_pairs")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.ph").alias("ph_a"),
            F.col("r.ph").alias("ph_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
    rep_pairs = (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if not pre_collapse:
        return rep_pairs
    return _expand_pairs(rep_pairs, members, id_col, "hamming", 0, max_broadcast_pairs)


def caption_aware_dedup(
    images: DataFrame,
    caption_col: str = "caption",
    phash_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Caption-aware image dedup — the LAION-style curation rule for
    image+caption corpora (the north-rule input shape): images that are
    VISUALLY near-identical (phash Hamming cluster) AND carry the same
    normalized caption are true duplicates (keep the minimum id); visually
    near-identical images with DIFFERENT captions all survive — caption
    diversity on the same image is training signal, not redundancy.

    Output: (id, img_cluster, cap_key, n_same_caption, n_caption_variants,
    is_keeper). img_cluster = phash connected component (min reachable id;
    singletons label themselves); cap_key = md5 of the normalized caption
    (lower, non-alnum runs -> single space, trimmed) — md5 is identical in
    Spark and DuckDB, which is what lets the registry oracle replay the
    whole composition.

    Plan shape: phash pair join is pure JVM (phash_neardup_pairs);
    components shuffle (long,long) edges; caption normalization + md5 are
    map-side JVM expressions; the final counts move (id, cluster, cap_key)
    rows — image bytes and raw captions never enter a shuffle wider than
    the 32-char key."""
    from .graph import connected_components

    pairs = phash_neardup_pairs(
        images, phash_col=phash_col, id_col=id_col, max_hamming=max_hamming
    ).select("id_a", "id_b")
    cc = connected_components(pairs)

    cap_key = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(caption_col)), "[^a-z0-9]+", " "))
    )
    labeled = (
        images.select(F.col(id_col), cap_key.alias("cap_key"))
        .join(cc, images[id_col] == cc["id"], "left")
        .select(
            id_col,
            "cap_key",
            F.coalesce(F.col("component"), F.col(id_col)).alias("img_cluster"),
        )
    )
    same = labeled.groupBy("img_cluster", "cap_key").agg(
        F.count("*").alias("n_same_caption"), F.min(id_col).alias("_keeper")
    )
    variants = same.groupBy("img_cluster").agg(
        F.count("*").alias("n_caption_variants")
    )
    return (
        labeled.join(same, on=["img_cluster", "cap_key"])
        .join(variants, on="img_cluster")
        .select(
            id_col,
            "img_cluster",
            "cap_key",
            "n_same_caption",
            "n_caption_variants",
            (F.col(id_col) == F.col("_keeper")).cast("int").alias("is_keeper"),
        )
    )
