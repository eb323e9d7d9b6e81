"""Seeded input generators for the benchmark.

Everything the engine sees during a run is made here from the run's
``--seed``: the registry test tables (same names, column types and value
domains as the tables the registry was written against) and the MWA
visibility cubes that set-up packs into an MWAB archive. The same seed
gives byte-identical files; another seed moves the values, the RFI and
the query order.

``ssins_reference`` is the independent check of the SSINS chain: the
same flagging rules written directly in numpy over the generated cube.
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter big group stream vector"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables for scale factor ``sf`` into
    ``out_dir``; returns rows per table. Row counts follow the
    registry's scale factors (lineitem ~6M x sf, orders 1.5M x sf,
    events 1M x sf, at least 500 documents and embeddings)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    o_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + o_day * _US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    l_ord = rng.integers(0, n_ord, n_li).astype(np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(
            _EPOCH_1995 + (o_day[l_ord] + rng.integers(1, 95, n_li)) * _US_PER_DAY
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centres = rng.normal(size=(10, 64))
    emb = centres[labels] * 0.5 + rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb,
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word soup over a small vocabulary, with planted exact
    (1%) and near (5%) copies of earlier documents so the dedup
    entries have pairs to find."""
    out: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.01:
            out.append(out[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.06:
            words = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(words))
            continue
        k = int(rng.integers(8, 100))
        out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


# -- visibility archive ---------------------------------------------------

ANTS = (0, 1, 2, 3, 4, 5, 6, 10)   # ant 10 is flagged in fixtures/antennas.parquet
N_CHANS = 16         # 2 coarse bands x 8 fine channels
POLS = ("xx", "yy")
N_OBS = 2
N_TIMES_RANGE = (16, 24)
TOTAL_TIMES = 40
FINE_PER_COARSE = 8
BASE_OBSID = 1_090_000_000


@dataclass(frozen=True)
class Observation:
    obsid: int
    n_times: int
    rfi_chan: int       # narrowband RFI channel (never an initially flagged one)
    rfi_cadence: int    # every rfi_cadence-th integration carries the burst
    rfi_phase: int
    rfi_amp: float
    streak_time: int    # one broadband burst across every channel

    @property
    def baselines(self) -> list[tuple[int, int]]:
        return [(a, b) for i, a in enumerate(ANTS) for b in ANTS[i:]]

    @property
    def n_cells(self) -> int:
        return self.n_times * len(self.baselines) * N_CHANS * len(POLS)


def observations(seed: int) -> list[Observation]:
    """N_OBS observations. The seed splits TOTAL_TIMES integrations
    between them (each within N_TIMES_RANGE), so a pass over the archive
    always flags the same number of cells, and places each one's RFI."""
    rng = np.random.default_rng([seed, 2])
    clean = [c for c in range(N_CHANS) if c % FINE_PER_COARSE not in (0, 4, 7)]
    lo, hi = N_TIMES_RANGE
    split, left = [], TOTAL_TIMES
    for k in range(N_OBS - 1, 0, -1):
        # leave the k observations still to come a feasible remainder
        nt = int(rng.integers(max(lo, left - k * hi), min(hi, left - k * lo) + 1))
        split.append(nt)
        left -= nt
    split.append(left)
    out = []
    for k, nt in enumerate(split):
        cadence = int(rng.integers(8, 11))
        out.append(Observation(
            obsid=BASE_OBSID + k,
            n_times=nt,
            rfi_chan=int(rng.choice(clean)),
            rfi_cadence=cadence,
            rfi_phase=int(rng.integers(0, cadence)),
            rfi_amp=float(rng.integers(5, 8)),
            streak_time=int(rng.integers(3, nt - 3)),
        ))
    return out


def cube(obs: Observation, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(re, im) shaped (T, BL, C, P). Every value is a multiple of 1/32,
    so it is exact in float64: a static sky per (baseline, chan, pol),
    integer noise, the narrowband burst on every baseline of rfi_chan,
    and one broadband burst at streak_time."""
    rng = np.random.default_rng([seed, 3, obs.obsid])
    shape = (obs.n_times, len(obs.baselines), N_CHANS, len(POLS))
    sky = rng.integers(-256, 257, shape[1:]) / 32.0
    re = sky + rng.integers(-16, 17, shape) / 32.0
    im = sky[..., ::-1] + rng.integers(-16, 17, shape) / 32.0
    burst = np.arange(obs.n_times) % obs.rfi_cadence == obs.rfi_phase
    re[burst, :, obs.rfi_chan, :] += obs.rfi_amp
    re[obs.streak_time] += 6.0
    im[obs.streak_time] += 6.0
    return re, im


def long_frame(obs: Observation, seed: int):
    """The cube in the packer's long format, as an Arrow table."""
    re, im = cube(obs, seed)
    T, BL, C, P = re.shape
    bl = np.asarray(obs.baselines, dtype=np.int32)
    t = np.repeat(np.arange(T, dtype=np.int32), BL * C * P)
    b = np.tile(np.repeat(np.arange(BL), C * P), T)
    c = np.tile(np.repeat(np.arange(C, dtype=np.int32), P), T * BL)
    p = np.tile(np.arange(P), T * BL * C)
    n = T * BL * C * P
    return pa.table({
        "obsid": pa.array(np.full(n, obs.obsid, dtype=np.int64)),
        "time_idx": pa.array(t),
        "time_jd": pa.array(2460000.0 + t / 86400.0),
        "ant1": pa.array(bl[b, 0]),
        "ant2": pa.array(bl[b, 1]),
        "chan": pa.array(c),
        "freq_hz": pa.array(150_000_000.0 + c * 40_000.0),
        "pol": pa.array(np.asarray(POLS, dtype=object)[p], type=pa.string()),
        "vis": pa.StructArray.from_arrays(
            [pa.array(re.reshape(-1)), pa.array(im.reshape(-1))], ["re", "im"]
        ),
        "flag": pa.array(np.zeros(n, dtype=bool)),
        "nsample": pa.array(np.ones(n, dtype=np.float32)),
    })


def ssins_reference(
    obs: Observation,
    seed: int,
    flagged_ants: set[int],
    narrow: float = 7.0,
    streak: float = 8.0,
    tb_aggro: float = 0.6,
) -> dict[str, tuple[int, int, int, int, int]]:
    """Expected per-pol (n_cells, narrow, streak, tb, mf) of the SSINS
    chain with the reference defaults (flag_init on, diff on,
    remove_flagged_ants on, cross spectrum, median/MAD z-score),
    computed in numpy straight from the cube."""
    re, im = cube(obs, seed)
    T = obs.n_times
    fine = np.arange(N_CHANS) % FINE_PER_COARSE
    chan_flag = (fine == 0) | (fine == FINE_PER_COARSE - 1) | (fine == FINE_PER_COARSE // 2)
    flag = np.zeros(re.shape, dtype=bool)
    flag[:, :, chan_flag, :] = True
    flag[0] = flag[T - 1] = True
    keep = [
        i for i, (a, b) in enumerate(obs.baselines)
        if a != b and a not in flagged_ants and b not in flagged_ants
    ]
    re, im, flag = re[:, keep], im[:, keep], flag[:, keep]
    d_re, d_im = re[1:] - re[:-1], im[1:] - im[:-1]
    d_flag = flag[1:] | flag[:-1]
    mag = np.hypot(d_re, d_im)
    ok = ~d_flag
    wsum = ok.sum(axis=1).astype(np.float64)               # (T-1, C, P)
    msum = np.where(ok, mag, 0.0).sum(axis=1)
    # NaN stands for SQL NULL: an all-flagged INS cell, and every
    # statistic over a group of such cells
    with np.errstate(invalid="ignore", divide="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        ins = np.where(wsum > 0, msum / wsum, np.nan)
        loc = np.nanmedian(ins, axis=0)                     # per (chan, pol)
        scale = np.nanmedian(np.abs(ins - loc), axis=0) * 1.4826022185056018
        z = np.where(np.isnan(scale) | (scale == 0.0), 0.0, (ins - loc) / scale)
        z = np.where(np.isnan(ins), np.nan, z)
        mean_z = np.nanmean(z, axis=1)                      # per (time, pol)
    occ = d_flag.mean(axis=1)
    narrow_f = np.nan_to_num(np.abs(z), nan=0.0) > narrow
    streak_tp = np.nan_to_num(np.abs(mean_z), nan=0.0) > streak
    streak_f = np.broadcast_to(streak_tp[:, None, :], z.shape)
    cell = (occ > 0.5) | narrow_f | streak_f
    tb_t = cell.reshape(cell.shape[0], -1).mean(axis=1) > tb_aggro
    tb_f = np.broadcast_to(tb_t[:, None, None], z.shape)
    mf = narrow_f | streak_f | tb_f
    return {
        pol: (
            int(z.shape[0] * z.shape[1]),
            int(narrow_f[..., k].sum()),
            int(streak_f[..., k].sum()),
            int(tb_f[..., k].sum()),
            int(mf[..., k].sum()),
        )
        for k, pol in enumerate(POLS)
    }
