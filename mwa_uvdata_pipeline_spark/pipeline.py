"""End-to-end pipeline facade: the reference's ``SS.read`` option
surface (SURVEY.md §2.9) composed in its execution order, feeding the
SSINS chain (§2.10).

Reference defaults (configurators.py:66-71): diff=True, flag_init=True,
remove_coarse_band=False, correct_van_vleck=False,
remove_flagged_ants=True, flag_choice=None. ``run_check`` has no
equivalent — schema-on-read replaces pyuvdata's O(data) consistency
scan (configurators.py:224,261).

Everything here is lazy plan construction except ``flag_init``'s one
eager min/max query. Catalyst fuses the predicate stages into the scan;
the chain then runs three shuffles over ONE scan of the visibilities:
the diff window, the INS aggregation, and the ``obsid`` repartition
that every post-INS window rides on (see :func:`ssins_flags`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mwa_uvdata_pipeline_spark.operators.diff import time_diff
from mwa_uvdata_pipeline_spark.operators.flags import (
    correct_van_vleck,
    flag_init,
    remove_coarse_band,
    seed_flags,
)
from mwa_uvdata_pipeline_spark.operators.ins import incoherent_noise_spectrum, zscore
from mwa_uvdata_pipeline_spark.operators.matchfilter import (
    MatchFilterConfig,
    match_filter,
)
from mwa_uvdata_pipeline_spark.operators.select import SelectOptions, apply_select


@dataclass
class ReadOptions:
    """SS.read surface (reference configurators.py:66-71,215-225)."""

    diff: bool = True                   # W1 (configurators.py:66)
    flag_init: bool = True              # configurators.py:67
    remove_coarse_band: bool = False    # configurators.py:68 ("low freq res")
    correct_van_vleck: bool = False     # configurators.py:69 ("slow")
    flag_choice: str | None = None      # configurators.py:71
    fine_per_coarse: int = 8
    edge_width: int = 1
    gain_dim: DataFrame | None = None
    van_vleck_sigma: float = 1.0


@dataclass
class PipelineConfig:
    read: ReadOptions = field(default_factory=ReadOptions)
    select: SelectOptions = field(default_factory=SelectOptions)
    mf: MatchFilterConfig = field(default_factory=MatchFilterConfig)

    def output_suffix(self) -> str:
        """X9 naming: '.diff' prefix plus the select tags
        (reference configurators.py:125-134)."""
        return (".diff" if self.read.diff else "") + self.select.suffix()


def ss_read(
    vis: DataFrame,
    opts: ReadOptions | None = None,
    select: SelectOptions | None = None,
    antenna_dim: DataFrame | None = None,
) -> DataFrame:
    """The read-time transform chain in reference order: seed flags →
    initial flagging → corrections → select → time diff."""
    opts = opts or ReadOptions()
    df = seed_flags(vis, opts.flag_choice)
    if opts.flag_init:
        df = flag_init(df, opts.fine_per_coarse, opts.edge_width)
    if opts.correct_van_vleck:
        df = correct_van_vleck(df, opts.van_vleck_sigma)
    if opts.remove_coarse_band:
        df = remove_coarse_band(df, opts.gain_dim)
    if select is not None:
        df = apply_select(df, select, antenna_dim)
    if opts.diff:
        df = time_diff(df)
    return df


def ssins_flags(ins: DataFrame, mf: MatchFilterConfig | None = None) -> DataFrame:
    """z-score → match filter over an INS table, per observation when
    ``ins`` carries ``obsid``.

    The INS table is hashed on ``obsid`` alone: every post-INS window —
    z-score (obsid, chan, pol), streak (obsid, time_idx, pol), tb
    (obsid, time_idx) — is clustered on an obsid-prefixed key, which
    HashPartitioning(obsid) satisfies, so the whole chain runs on ONE
    tiny exchange with no broadcast builds. obsid is also the scale-out
    unit (observations are independent).
    """
    obs = ("obsid",) if "obsid" in ins.columns else ()
    if obs:
        ins = ins.repartition(*obs)
    z = zscore(ins, part_keys=(*obs, "chan", "pol"))
    return match_filter(z, mf, obs_keys=obs)


def ssins_pipeline(
    vis: DataFrame,
    cfg: PipelineConfig | None = None,
    antenna_dim: DataFrame | None = None,
) -> DataFrame:
    """Flagship query (SURVEY.md §7 phase 1): read-chain → INS →
    z-score → match filter. Returns the per-(time, chan, pol) flag
    table with narrow/streak/time-broadcast verdicts, prefixed by
    ``obsid`` when the input has it (each observation is filtered on
    its own statistics)."""
    cfg = cfg or PipelineConfig()
    d = ss_read(vis, cfg.read, cfg.select, antenna_dim)
    obs = ("obsid",) if "obsid" in d.columns else ()
    ins = incoherent_noise_spectrum(
        d, spectrum_type=cfg.select.spectrum_type,
        group_keys=(*obs, "time_idx", "chan", "pol"),
    )
    return ssins_flags(ins, cfg.mf)
