"""Mixture sampling (functions/mixing.py): output composition matches the
target shares, the binding domain is never downsampled, determinism, and
the threshold planner's exact arithmetic."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark.functions.mixing import mixture_plan, mixture_sample


def test_mixture_plan_arithmetic():
    counts = {"web": 8000, "books": 1000, "code": 500, "junk": 300}
    targets = {"web": 0.5, "books": 0.25, "code": 0.25}
    thr = mixture_plan(counts, targets)
    # binding domain: books needs n/share = 4000; code 2000 -> code binds
    # n_out = 2000: web rate 1000/8000, books 500/1000, code 500/500 = 1.0
    assert thr["code"] == 2**31  # kept wholesale
    assert thr["web"] == int(0.5 * 2000 / 8000 * 2**31)
    assert thr["books"] == int(0.25 * 2000 / 1000 * 2**31)
    assert thr["junk"] == 0  # not in the mixture -> dropped
    # normalization: scaled targets give identical thresholds
    assert thr == mixture_plan(counts, {d: 4 * s for d, s in targets.items()})


def test_mixture_sample_composition(spark):
    rng = np.random.default_rng(3)
    doms = np.concatenate([
        np.repeat("web", 12000), np.repeat("books", 3000),
        np.repeat("code", 1500), np.repeat("junk", 800),
    ])
    pdf = pd.DataFrame({"id": np.arange(len(doms)), "domain": doms})
    df = spark.createDataFrame(pdf, schema="id long, domain string")
    targets = {"web": 0.5, "books": 0.25, "code": 0.25}
    out = mixture_sample(df, "domain", targets, key_col="id")
    got = {r.domain: r.n for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert "junk" not in got
    # code binds (1500/0.25 = 6000 = n_out): kept in full
    assert got["code"] == 1500
    total = sum(got.values())
    for d, share in targets.items():
        assert abs(got[d] / total - share / 1.0) < 0.03, (d, got)
    # deterministic: same rows both runs
    a = sorted(r.id for r in out.collect())
    b = sorted(r.id for r in mixture_sample(df, "domain", targets, key_col="id").collect())
    assert a == b


def test_mixture_sample_domain_guard(spark, force_distributed):
    df = spark.range(10).select(
        F.col("id"), F.col("id").cast("string").alias("domain")
    )
    with force_distributed() as refused:
        with pytest.raises(ValueError, match="domains"):
            mixture_sample(df, "domain", {"1": 1.0}, key_col="id")
    assert refused == ["mixture_sample"]
