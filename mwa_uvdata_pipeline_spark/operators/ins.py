"""A5/A6 — incoherent noise spectrum and its z-score (SURVEY.md §2.4).

INS = sample-weighted mean of |V| over the baseline axis per
(time, freq, pol), restricted by spectrum_type (the SSINS core
statistic; config surface reference configurators.py:86-97, math in the
pinned SSINS dependency). Flagged cells are excluded from the mean.

z-score (SSINS ``metric_ms``) standardizes INS across time per
(chan, pol), computed as window aggregates over the tiny INS table
(Ntimes x Nchan x Npol rows per observation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.functions.complexnum import c_abs
from mwa_uvdata_pipeline_spark.operators.select import SpectrumType, spectrum_predicate


def incoherent_noise_spectrum(
    vis: DataFrame,
    spectrum_type: SpectrumType = "cross",
    group_keys: tuple[str, ...] = ("time_idx", "chan", "pol"),
) -> DataFrame:
    """Per-(time, chan, pol): mean |V| over unflagged baselines, the
    summed sample weight, and flag occupancy.

    One hash aggregation; Catalyst does map-side partial aggregation so
    the shuffle carries only Ntimes x Nchan x Npol groups regardless of
    baseline count — this is the operator that collapses 100 TB to MBs.
    """
    df = vis.where(spectrum_predicate(spectrum_type))
    mag = c_abs(F.col("vis"))
    ok = ~F.col("flag")
    w = F.col("nsample")
    wsum = F.sum(F.when(ok, w).otherwise(F.lit(0.0)))
    return df.groupBy(*group_keys).agg(
        # NULL (not 0/0=NaN) when every contributing cell is flagged
        F.when(wsum > 0, F.sum(F.when(ok, mag * w).otherwise(F.lit(0.0))) / wsum)
        .alias("ins"),
        F.sum(F.when(ok, w).otherwise(F.lit(0.0))).alias("nsample_sum"),
        F.avg(F.col("flag").cast("double")).alias("flag_occupancy"),
        F.count(F.lit(1)).alias("n_baselines"),
    )


_MAD_TO_SIGMA = 1.4826022185056018  # 1/Phi^-1(3/4): MAD → sigma for a Gaussian


def zscore(
    ins: DataFrame,
    value_col: str = "ins",
    part_keys: tuple[str, ...] = ("chan", "pol"),
    method: str = "mad",
) -> DataFrame:
    """A6: per-(chan, pol) standardization of INS across time.

    Default is the robust median/MAD estimator: SSINS applies its match
    filter iteratively precisely because a bright RFI spike contaminates
    the plain mean/stddev of its own channel; median/MAD gives the
    one-shot equivalent (the spike cannot drag the location/scale
    estimate). ``method="std"`` keeps the classic mean/stddev z.
    Degenerate groups (zero scale) get z=0 so thresholds stay defined.

    The stats are window aggregates over ``part_keys``: one exchange
    (none when the input is already clustered on a prefix of the keys,
    see :func:`pipeline.ssins_flags`) and no broadcast builds, each of
    which would re-run the plan below INS back to the archive scan.
    """
    w = Window.partitionBy(*part_keys)
    if method == "std":
        out = ins.withColumn("_loc", F.avg(value_col).over(w)).withColumn(
            "_scale", F.stddev_samp(value_col).over(w)
        )
    else:
        out = ins.withColumn("_loc", F.median(value_col).over(w)).withColumn(
            "_scale",
            F.median(F.abs(F.col(value_col) - F.col("_loc"))).over(w)
            * F.lit(_MAD_TO_SIGMA),
        )
    z = F.when(
        F.col("_scale").isNull() | (F.col("_scale") == 0.0), F.lit(0.0)
    ).otherwise((F.col(value_col) - F.col("_loc")) / F.col("_scale"))
    # fully-flagged cells have NULL ins → NULL z (flows through as "no evidence")
    z = F.when(F.col(value_col).isNull(), F.lit(None).cast("double")).otherwise(z)
    return out.withColumn("z", z).drop("_loc", "_scale")
