"""Data-mixture sampling: hit TARGET domain proportions in the output.

The trainer-side mixing op (DoReMi, DCLM, Llama data recipes): the crawl's
domain distribution is whatever it is; training wants a prescribed mixture
(e.g. 40% web / 40% books / 20% code).  Fixed-fraction stratified sampling
(sessions.stratified_sample) can't express this — the acceptance rate per
domain depends on the DATA's counts.

Two passes, both cheap:
1. exact per-domain counts (one slim groupBy; domains are few by contract
   — a guard trips otherwise);
2. the largest downsample-only output size is N_out = floor(min_d n_d /
   share_d) — the binding domain (smallest n_d/share_d) is kept at rate
   1.0, every other domain at rate share_d * N_out / n_d; rows pass a
   deterministic 31-bit affine hash gate against the per-domain threshold
   (same gate as stratified_sample: no rand(), engine-replayable, folds
   into the scan).

Expected output composition is exactly the target shares (up to hash
quantization); no row is ever upsampled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import guard
from .sessions import _SAMPLE_ADD, _SAMPLE_MOD, _SAMPLE_MULT

_MAX_DOMAINS = 100_000  # driver collect guard: counts are a few ints/domain

_2_31 = 2147483648.0


def mixture_plan(counts: dict[str, int], targets: dict[str, float]) -> dict[str, int]:
    """Per-domain 31-bit thresholds achieving `targets` proportions at the
    max feasible downsample-only size.  Shares are normalized; domains
    absent from `targets` get threshold 0 (dropped).  Pure float64
    arithmetic in a fixed order so the SQL oracle replays it bit-exactly:
    n_out = floor(min(n_d / share_d)); thr_d = int(share_d * n_out / n_d *
    2^31)."""
    tot = sum(targets.values())
    shares = {d: s / tot for d, s in targets.items()}
    feasible = [counts[d] / shares[d] for d in shares if counts.get(d)]
    if not feasible:
        return {d: 0 for d in counts}
    import math

    n_out = math.floor(min(feasible))
    return {
        d: int(shares[d] * n_out / counts[d] * _2_31) if counts.get(d) and d in shares else 0
        for d in set(counts) | set(shares)
    }


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    targets: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Downsample `df` so the output's `domain_col` composition matches
    `targets` (normalized), at the largest size needing no upsampling."""
    cnt = guard.collect_small(
        df.groupBy(domain_col).count(), _MAX_DOMAINS, "mixture_sample"
    )
    if cnt is None:
        raise ValueError(
            f"mixture_sample: >{_MAX_DOMAINS} domains — aggregate upstream first"
        )
    counts = dict(zip(cnt[domain_col].tolist(), cnt["count"].tolist()))
    thr = mixture_plan(counts, targets)
    cases = F.lit(0)
    for d, t in sorted(thr.items()):
        cases = F.when(F.col(domain_col) == d, F.lit(t)).otherwise(cases)
    h = F.pmod(
        F.col(key_col).cast("long") * F.lit(_SAMPLE_MULT) + F.lit(_SAMPLE_ADD),
        F.lit(_SAMPLE_MOD),
    )
    return df.filter(h < cases)
