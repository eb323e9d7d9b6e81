"""The SSINS chain as ``ssins_pipeline`` runs it: observations stay
apart, and the post-INS statistics ride one window pass over a single
scan of the visibilities."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mwa_uvdata_pipeline_spark.operators.select import SelectOptions
from mwa_uvdata_pipeline_spark.pipeline import PipelineConfig, ssins_pipeline
from tests.plan_shape import (
    count_nodes,
    executed_plan,
    node_name,
    output_names,
    plan_nodes,
)

CFG = PipelineConfig(select=SelectOptions(spectrum_type="cross"))
MF_COLS = ["obsid", "time_idx", "chan", "pol",
           "narrow_flag", "streak_flag", "tb_flag", "mf_flag"]


def _obs_frame(obsid: int, n_times: int, rfi: dict, rng) -> pd.DataFrame:
    """Long-format visibilities of one observation: 4 antennas, 16 fine
    channels (2 coarse bands), pols XX/YY, Gaussian noise plus the
    planted RFI ``{(time_idx, chan or None, pol): amplitude}`` (chan
    None = every channel)."""
    t, a1, a2, c, p = np.meshgrid(
        np.arange(n_times), np.arange(4), np.arange(4), np.arange(16),
        np.array(["XX", "YY"]), indexing="ij",
    )
    keep = (a1 <= a2).ravel()
    df = pd.DataFrame({
        "obsid": np.int64(obsid),
        "time_idx": t.ravel()[keep].astype(np.int32),
        "ant1": a1.ravel()[keep].astype(np.int32),
        "ant2": a2.ravel()[keep].astype(np.int32),
        "chan": c.ravel()[keep].astype(np.int32),
        "pol": p.ravel()[keep],
    })
    df["freq_hz"] = 1.38e8 + 1e4 * df["chan"]
    re = rng.normal(size=len(df))
    for (ti, ch, pol), amp in rfi.items():
        hit = (df["time_idx"] == ti) & (df["pol"] == pol)
        if ch is not None:
            hit &= df["chan"] == ch
        re = np.where(hit, re + amp, re)
    df["vis"] = [{"re": float(r), "im": float(i)}
                 for r, i in zip(re, rng.normal(size=len(df)))]
    df["flag"] = False
    df["nsample"] = np.float32(1.0)
    return df


@pytest.fixture(scope="module")
def two_obs(spark):
    rng = np.random.default_rng(7)
    pdf = pd.concat([
        _obs_frame(100, 12, {(5, 5, "XX"): 40.0}, rng),
        _obs_frame(200, 9, {(4, None, "YY"): 30.0}, rng),
    ], ignore_index=True)
    schema = ("obsid long, time_idx int, ant1 int, ant2 int, chan int, "
              "pol string, freq_hz double, vis struct<re: double, im: double>, "
              "flag boolean, nsample float")
    return spark.createDataFrame(pdf, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.select(*MF_COLS).collect())


def test_observations_are_filtered_apart(two_obs):
    """One run over two observations (12 and 9 integrations) equals
    the union of one run per observation: each keeps its own INS
    spectrum, z statistics, streak/tb groups and first/last-time flags."""
    together = _rows(ssins_pipeline(two_obs, CFG))
    apart = sorted(
        r
        for o in (100, 200)
        for r in _rows(ssins_pipeline(two_obs.where(F.col("obsid") == o), CFG))
    )
    assert together == apart
    # (12 - 1) + (9 - 1) diff steps x 16 chans x 2 pols
    assert len(together) == (11 + 8) * 16 * 2
    flagged = {(r[0], r[1]) for r in together if r[-1]}
    assert {o for o, _ in flagged} == {100, 200}


def _is_ins_agg(n) -> bool:
    return node_name(n) == "HashAggregateExec" and "nsample_sum" in output_names(n)


def _reads(n, name: str) -> bool:
    return (node_name(n) == "FileSourceScanExec"
            and n.relation().location().rootPaths().head().getName() == name)


def test_chain_scans_once_and_broadcasts_nothing_after_ins(spark, vis, fixtures_dir):
    """Over the committed fixture, with the antenna table's broadcast
    anti-joins below INS: the executed plan reads the visibilities once,
    and nothing downstream of the INS aggregate is a broadcast exchange
    (each would be a job re-running the plan back to the scan)."""
    ants = spark.read.parquet(str(fixtures_dir / "antennas.parquet"))
    mf = ssins_pipeline(vis, CFG, ants)
    mf.collect()
    plan = executed_plan(mf)
    assert sum(_reads(n, "visibilities.parquet") for n in plan_nodes(plan)) == 1
    assert sum(_is_ins_agg(n) for n in plan_nodes(plan, stop=_is_ins_agg)) == 1
    assert count_nodes(plan, "BroadcastExchangeExec", stop=_is_ins_agg) == 0
    # the broadcasts that remain are the antenna anti-joins, below INS
    assert count_nodes(plan, "BroadcastExchangeExec") > 0
