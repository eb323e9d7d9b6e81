"""The three workloads. Each runs one client in a closed loop: the next
op starts when the previous one has returned. Ops run in passes; a pass
is every op kind once, in an order drawn from the seed, and the timed
phase runs whole passes until ``seconds`` have gone by, so every run
times the same mix of ops.

Nothing is released between ops: no ``clearCache()``, no forced GC.
Whatever an op leaves behind (persisted frames, garbage, compiled code)
costs the ops after it, as in a long-lived CLI or service session.
"""

from __future__ import annotations

import glob
import os
import random
import subprocess
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from measure import Tracer, percentile, self_times
from mwa_uvdata_pipeline_spark.plans import load_all
from mwa_uvdata_pipeline_spark.session import get_spark

#: Registry entries the roster workloads run: the stratified sample of
#: the 46 ``bench=True`` entries that ``survey.choose`` drew from two
#: surveys of all of them (``interactive_sf0.01``'s op, seeds 1 and 2,
#: times averaged): ten strata of the entries ranked by op latency, one
#: entry from each, every registering module held, construction share and
#: mean latency closest to the whole roster's. perfbench/README.md
#: compares the sample with the whole roster, on a third seed too. Ten,
#: so that a run affords the untimed oracle check of every entry.
ROSTER = [
    "ev_tumbling_window",
    "j1_broadcast_lookup",
    "q3_shipping_priority",
    "q18_large_orders",
    "m_jpeg_rst_native",
    "s_uvh5_native",
    "q9_product_profit",
    "ml_naive_bayes",
    "pipeline_prep_attrition",
    "dedup_semantic",
]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
GROUPS = ("tpch", "text", "events", "domain", "relational", "multimodal")
SSINS_LAYERS = ("scan", "flags", "select", "diff", "ins", "zscore", "matchfilter")


@dataclass
class Op:
    kind: str            # entry name, or the observation id
    group: str           # registering module; "multimodal" for m_* entries
    wall: float
    ok: bool
    construct_s: float = 0.0
    action_s: float = 0.0
    cells: int = 0       # visibility cells the op consumed
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    ops: list[Op]                  # timed ops only
    checked: int                   # ops run outside the timed phase and verified
    check_failed: int
    layers: dict[str, tuple[float, str, int]]   # name -> (value, unit, samples)
    notes: list[str]


# -- result comparison ------------------------------------------------------

def norm(v):
    """One cell as a comparable string: NULL, float by repr, times by
    ISO format, nested values recursively."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if v != v else repr(v)
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Rows with columns in name order and cells normalized, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def compare(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when the two results are equal as multisets of canonical
    rows with the same column names, else what differs."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"rows {len(spark_rows)} != {len(oracle_rows)}"
    a, b = canonical(spark_cols, spark_rows), canonical(oracle_cols, oracle_rows)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} differing rows" if bad else None


def is_sub_multiset(part: list, whole: Counter) -> bool:
    need = Counter(part)
    return all(whole[k] >= n for k, n in need.items())


# -- the session --------------------------------------------------------------

class Session:
    """Session start plus the layers every workload shares."""

    def __init__(self, root: str, trace: bool) -> None:
        t = time.perf_counter()
        self.spark = get_spark()
        self.start_s = time.perf_counter() - t
        t = time.perf_counter()
        self.plans = load_all()
        self.load_all_s = time.perf_counter() - t
        self.root = root
        self.tracer = Tracer(self.spark, trace)
        self.cores = self.spark.sparkContext.defaultParallelism

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it every
        Python worker it started) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _common_layers(sess: Session, ops: list[Op], tracer_ops: list[dict],
                   per_pass: int) -> dict:
    """Per-layer metrics every workload reports from a traced run. The
    counts come from the first timed pass, so they repeat exactly
    whatever the number of passes."""
    layers: dict[str, tuple[float, str, int]] = {}
    n = len(ops)
    walls = [o.wall for o in ops]
    layers["session.start_s"] = (sess.start_s, "s", 1)
    layers["plans.load_all_s"] = (sess.load_all_s, "s", 1)
    layers["plans.construct_s"] = (percentile([o.construct_s for o in ops], 0.5), "s", n)
    layers["plans.construct_share"] = (
        sum(o.construct_s for o in ops) / sum(walls), "frac", n)
    first = tracer_ops[:per_pass]
    k = len(first)

    def mean(key):
        return sum(t[key] for t in first) / k

    layers["plans.construct_jobs"] = (mean("construct_jobs"), "count", k)
    layers["spark.jobs_per_op"] = (mean("jobs"), "count", k)
    layers["spark.stages_per_op"] = (mean("stages"), "count", k)
    layers["spark.tasks_per_op"] = (mean("tasks"), "count", k)
    layers["spark.executor_run_s"] = (mean("run_s"), "s", k)
    layers["spark.executor_cpu_s"] = (mean("cpu_s"), "s", k)
    layers["spark.gc_s"] = (mean("gc_s"), "s", k)
    busy = sum(t["action_run_s"] for t in tracer_ops) / (
        sum(o.action_s for o in ops) * sess.cores)
    layers["spark.core_busy_frac"] = (busy, "frac", n)
    layers["spark.shuffle_read_bytes"] = (mean("shuffle_read"), "bytes", k)
    layers["spark.shuffle_write_bytes"] = (mean("shuffle_write"), "bytes", k)
    layers["spark.spill_bytes"] = (mean("spill"), "bytes", k)
    layers["spark.task_skew"] = (max(t["skew"] for t in tracer_ops), "ratio", n)
    layers["cache.entries_after_op"] = (first[-1]["cache_entries"], "count", 1)
    layers["cache.bytes_held"] = (first[-1]["cache_bytes"], "bytes", 1)
    layers["jvm.heap_used_peak_mb"] = (max(t["heap_mb"] for t in tracer_ops), "MB", n)
    layers["trace.latency_p50_s"] = (percentile(walls, 0.5), "s", n)
    return layers


def _op_counters(sess: Session, op_id: int) -> dict:
    """Spark counters of one traced op, read after the op has ended. An
    op that raised may lack its action span."""
    tr = sess.tracer
    spans = {s.name: s for s in tr.op_spans(op_id)}
    c, a = (tr.stage_totals([spans[k]] if k in spans else []) for k in ("construct", "action"))
    entries, held = tr.cache_state()
    return {
        "construct_jobs": c.jobs,
        "jobs": c.jobs + a.jobs, "stages": c.stages + a.stages,
        "tasks": c.tasks + a.tasks, "run_s": c.run_s + a.run_s,
        "action_run_s": a.run_s, "cpu_s": c.cpu_s + a.cpu_s,
        "gc_s": c.gc_s + a.gc_s, "shuffle_read": c.shuffle_read + a.shuffle_read,
        "shuffle_write": c.shuffle_write + a.shuffle_write,
        "spill": c.spill + a.spill, "skew": max(c.skew, a.skew),
        "input_records": c.input_records + a.input_records,
        "cache_entries": entries, "cache_bytes": held,
        "heap_mb": tr.heap_used_mb(),
    }


def _timed_passes(seconds: float, run_pass) -> list[Op]:
    ops: list[Op] = []
    t0 = time.perf_counter()
    p = 0
    while time.perf_counter() - t0 < seconds:
        ops += run_pass(p)
        p += 1
    return ops


# -- ssins_archive ----------------------------------------------------------

class SsinsArchive:
    """One op: read one observation of the MWAB archive through the
    ``mwa_vis`` DataSource, run ``ssins_pipeline`` with the reference
    defaults and the cross spectrum, and collect per-pol counts of
    cells, narrow, streak, time-broadcast and combined flags."""

    def __init__(self, sess: Session, work: str, seed: int, plant: bool) -> None:
        from mwa_uvdata_pipeline_spark.mwab import (
            long_to_mwab_distributed,
            register_mwa_source,
        )
        from mwa_uvdata_pipeline_spark.pipeline import PipelineConfig
        from mwa_uvdata_pipeline_spark.operators.select import SelectOptions

        self.sess = sess
        spark = sess.spark
        register_mwa_source(spark)
        self.obs = gen.observations(seed)
        self.dirs = {o.obsid: os.path.join(work, "archive", f"obs{o.obsid}") for o in self.obs}

        def pack(o: gen.Observation) -> None:
            frame = spark.createDataFrame(gen.long_frame(o, seed))
            long_to_mwab_distributed(frame, self.dirs[o.obsid]).collect()

        # the observations are packed side by side: each pack is a few
        # small jobs, mostly driver-side, so one at a time idles the cores
        t = time.perf_counter()
        with ThreadPoolExecutor(len(self.obs)) as pool:
            list(pool.map(pack, self.obs))
        self.pack_s = time.perf_counter() - t
        self.bytes_written = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(work, "archive", "*", "*.mwab")))
        ant_path = os.path.join(sess.root, "fixtures", "antennas.parquet")
        ants = pq.read_table(ant_path, columns=["ant", "flagged"]).to_pydict()
        flagged = {a for a, f in zip(ants["ant"], ants["flagged"]) if f}
        self.expected = {o.obsid: gen.ssins_reference(o, seed, flagged) for o in self.obs}
        if plant:
            xx = self.expected[self.obs[0].obsid]["xx"]
            self.expected[self.obs[0].obsid]["xx"] = xx[:4] + (xx[4] + 1,)
        self.antennas = spark.read.parquet(ant_path)
        self.cfg = PipelineConfig(select=SelectOptions(spectrum_type="cross"))
        self.rng = random.Random(seed)
        self.notes: list[str] = []

    def _vis(self, obsid: int):
        return (
            self.sess.spark.read.format("mwa_vis")
            .option("path", os.path.join(self.dirs[obsid], "part-*.mwab"))
            .load()
        )

    def op(self, op_id: int, o: gen.Observation) -> Op:
        from pyspark.sql import functions as F

        from mwa_uvdata_pipeline_spark.pipeline import ssins_pipeline

        tr = self.sess.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("construct", op_id) as c:
                vis = self._vis(o.obsid)
                tp = time.perf_counter()
                mf = ssins_pipeline(vis, self.cfg, self.antennas)
                pipeline_s = time.perf_counter() - tp
                out = mf.groupBy("pol").agg(
                    F.count(F.lit(1)).alias("n_cells"),
                    F.sum(F.col("narrow_flag").cast("long")).alias("narrow"),
                    F.sum(F.col("streak_flag").cast("long")).alias("streak"),
                    F.sum(F.col("tb_flag").cast("long")).alias("tb"),
                    F.sum(F.col("mf_flag").cast("long")).alias("mf"),
                )
            with tr.span("action", op_id) as a:
                rows = out.collect()
        except Exception as e:  # a failed op is counted, not fatal
            self.notes.append(f"{o.obsid}: raised {type(e).__name__}: {str(e)[:200]}")
            return Op(str(o.obsid), "domain", time.perf_counter() - t0, False,
                      cells=o.n_cells, extra={"pipeline_s": 0.0, "mf": 0})
        wall = time.perf_counter() - t0
        got = {r["pol"]: (r["n_cells"], r["narrow"], r["streak"], r["tb"], r["mf"]) for r in rows}
        ok = got == self.expected[o.obsid]
        return Op(str(o.obsid), "domain", wall, ok, c.seconds, a.seconds, o.n_cells,
                  {"pipeline_s": pipeline_s, "mf": sum(v[4] for v in got.values())})

    def prefixes(self, o: gen.Observation) -> dict:
        """Traced only: materialize the cumulative prefixes of the
        chain with a noop sink; returns prefix walls and row counts."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from mwa_uvdata_pipeline_spark.operators.diff import time_diff
        from mwa_uvdata_pipeline_spark.operators.flags import flag_init, seed_flags
        from mwa_uvdata_pipeline_spark.operators.ins import (
            incoherent_noise_spectrum,
            zscore,
        )
        from mwa_uvdata_pipeline_spark.operators.matchfilter import match_filter
        from mwa_uvdata_pipeline_spark.operators.select import apply_select

        rd, sel = self.cfg.read, self.cfg.select
        steps = {
            "scan": lambda d: d,
            "flags": lambda d: flag_init(seed_flags(d, rd.flag_choice),
                                         rd.fine_per_coarse, rd.edge_width),
            "select": lambda d: apply_select(d, sel, self.antennas),
            "diff": time_diff,
            "ins": lambda d: incoherent_noise_spectrum(d, spectrum_type=sel.spectrum_type),
            "zscore": zscore,
            "matchfilter": lambda d: match_filter(d, self.cfg.mf),
        }
        walls, rows = [], {}
        for k, name in enumerate(SSINS_LAYERS):
            t = time.perf_counter()
            df = self._vis(o.obsid)
            for step in SSINS_LAYERS[: k + 1]:
                df = steps[step](df)
            seen = Observation(name)
            df.observe(seen, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite").format("noop").save()
            walls.append((name, time.perf_counter() - t))
            rows[name] = seen.get["n"]
        return {"walls": walls, "rows": rows}

    def warm_up(self) -> float:
        """Untimed: the chain up to the INS table over one observation,
        into the noop sink. It takes the first scans, shuffles and
        Python workers of the session, at about a third of the cost of a
        whole op (a first whole op runs about twice as slow as later
        ones)."""
        from mwa_uvdata_pipeline_spark.operators.ins import incoherent_noise_spectrum
        from mwa_uvdata_pipeline_spark.pipeline import ss_read

        t = time.perf_counter()
        o = self.rng.choice(self.obs)
        d = ss_read(self._vis(o.obsid), self.cfg.read, self.cfg.select, self.antennas)
        ins = incoherent_noise_spectrum(d, spectrum_type=self.cfg.select.spectrum_type)
        ins.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t

    def run(self, seconds: float, t_process: float) -> Outcome:
        sess, tr = self.sess, self.sess.tracer
        op_id = 0
        self.notes.append(f"warm-up {self.warm_up():.3f} s")
        setup_s = time.perf_counter() - t_process
        counters: list[dict] = []

        def one_pass(p: int) -> list[Op]:
            nonlocal op_id
            out = []
            for o in self.rng.sample(self.obs, len(self.obs)):
                op_id += 1
                r = self.op(op_id, o)
                out.append(r)
                if tr.enabled:
                    c = _op_counters(sess, op_id)
                    # every scan reads the whole observation; the antenna
                    # table adds 128 rows per read, far below one scan
                    c["scans"] = c["input_records"] // o.n_cells
                    counters.append(c)
            return out

        ops = _timed_passes(seconds, one_pass)
        self.notes.append(f"pack {self.pack_s:.3f} s; ops "
                          + " ".join(f"{o.kind}:{o.wall:.3f}" for o in ops))
        layers: dict[str, tuple[float, str, int]] = {}
        if tr.enabled:
            # after the timed phase, so that the timed ops of traced and
            # untraced runs follow the same session history; on the last
            # op's observation, the op nearest in time and so in warmth
            last = ops[-1]
            prefix = self.prefixes(next(o for o in self.obs if str(o.obsid) == last.kind))
            layers = _common_layers(sess, ops, counters, len(self.obs))
            n = len(ops)
            own = self_times(prefix["walls"])
            # independent of the op's own spans: the chain's operator self
            # times add up to the last prefix's wall, run apart from the op
            layers["trace.span_coverage"] = (prefix["walls"][-1][1] / last.wall, "frac", 1)
            layers["mwab.pack_s"] = (self.pack_s, "s", 1)
            layers["mwab.bytes_written"] = (self.bytes_written, "bytes", 1)
            layers["mwab.scans_per_op"] = (
                sum(c["scans"] for c in counters) / n, "count", n)
            layers["mwab.scan_s"] = (own["scan"], "s", 1)
            layers["mwab.rows_per_s"] = (prefix["rows"]["scan"] / own["scan"], "1/s", 1)
            layers["pipeline.construct_s"] = (
                percentile([o.extra["pipeline_s"] for o in ops], 0.5), "s", n)
            for name in SSINS_LAYERS[1:]:
                layers[f"operators.{name}_s"] = (own[name], "s", 1)
            for name in ("select", "diff", "ins"):
                layers[f"operators.{name}.rows_out"] = (prefix["rows"][name], "count", 1)
            layers["operators.matchfilter.flagged_cells"] = (
                sum(o.extra["mf"] for o in ops[: len(self.obs)]), "count", len(self.obs))
        return Outcome(setup_s, ops, 0, 0, layers, self.notes)


# -- the roster workloads ---------------------------------------------------

def plan_group(plan) -> str:
    if plan.name.startswith("m_"):
        return "multimodal"
    return plan.spark.__module__.rsplit(".", 1)[-1]


class Roster:
    """One op: build one registry entry with ``Plan.spark`` and run it,
    either into the noop sink (``roster_sf0.1``) or as
    ``limit(20).collect()``, exactly what the CLI's ``run`` does
    (``interactive_sf0.01``)."""

    def __init__(self, sess: Session, work: str, seed: int, plant: bool,
                 sf: float, interactive: bool, names: list[str] = ROSTER) -> None:
        import duckdb

        self.sess, self.interactive = sess, interactive
        self.sf_dir = os.path.join(work, f"sf{sf}")
        t = time.perf_counter()
        gen.make_tables(self.sf_dir, sf, seed)
        self.gen_s = time.perf_counter() - t
        self.entries = [sess.plans[n] for n in names]
        self.rng = random.Random(seed)
        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{name}.parquet')")
        self.plant = plant
        self.verified: dict[str, bool] = {}
        self.full: dict[str, Counter] = {}
        self.notes: list[str] = []
        self.vis_cells = pq.read_metadata(
            os.path.join(sess.root, "fixtures", "visibilities.parquet")).num_rows

    def check_pass(self) -> None:
        """Untimed: run every entry to completion and compare its whole
        result with the entry's DuckDB oracle. Doubles as the warm-up."""
        order = self.rng.sample(self.entries, len(self.entries))
        t_spark = t_oracle = 0.0
        for k, p in enumerate(order):
            try:
                t = time.perf_counter()
                df = p.spark(self.sess.spark, self.sf_dir)
                rows = df.collect()
                t_spark += time.perf_counter() - t
                t = time.perf_counter()
                res = self.con.sql(p.sql)
                o_cols = [d[0] for d in res.description]
                o_rows = res.fetchall()
                if self.plant and k == 0:
                    o_rows = o_rows[1:]
                t_oracle += time.perf_counter() - t
                bad = compare(df.columns, rows, o_cols, o_rows)
            except Exception as e:  # an entry that raises is a failed op
                bad = f"raised {type(e).__name__}: {str(e)[:200]}"
                rows = []
            self.verified[p.name] = bad is None
            self.full[p.name] = Counter(repr(r) for r in rows)
            if bad:
                self.notes.append(f"{p.name}: {bad}")
        self.notes.append(f"tables {self.gen_s:.3f} s; check pass {t_spark:.3f} s engine, "
                          f"{t_oracle:.3f} s oracle")

    def op(self, op_id: int, p) -> Op:
        tr = self.sess.tracer
        t0 = time.perf_counter()
        ok = self.verified[p.name]
        try:
            with tr.span("construct", op_id) as c:
                df = p.spark(self.sess.spark, self.sf_dir)
            with tr.span("action", op_id) as a:
                if self.interactive:
                    rows = df.limit(20).collect()
                else:
                    df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # a failed op is counted, not fatal
            self.notes.append(f"{p.name}: raised {type(e).__name__}: {str(e)[:200]}")
            return Op(p.name, plan_group(p), time.perf_counter() - t0, False)
        wall = time.perf_counter() - t0
        if self.interactive:
            want = min(20, sum(self.full[p.name].values()))
            ok = ok and len(rows) == want and is_sub_multiset(
                [repr(r) for r in rows], self.full[p.name])
        cells = self.vis_cells if p.name == "s_uvh5_native" else 0
        return Op(p.name, plan_group(p), wall, ok, c.seconds, a.seconds, cells)

    def run(self, seconds: float, t_process: float) -> Outcome:
        sess, tr = self.sess, self.sess.tracer
        self.check_pass()
        setup_s = time.perf_counter() - t_process
        counters: list[dict] = []
        op_id = 0

        def one_pass(p: int) -> list[Op]:
            nonlocal op_id
            out = []
            for e in self.rng.sample(self.entries, len(self.entries)):
                op_id += 1
                out.append(self.op(op_id, e))
                if tr.enabled:
                    counters.append(_op_counters(sess, op_id))
            return out

        ops = _timed_passes(seconds, one_pass)
        self.notes.append("ops " + " ".join(f"{o.kind}:{o.construct_s:.3f}+{o.action_s:.3f}" for o in ops))
        layers: dict[str, tuple[float, str, int]] = {}
        if tr.enabled:
            layers = _common_layers(sess, ops, counters, len(self.entries))
            for g in GROUPS:
                walls = [o.wall for o in ops if o.group == g]
                name = "operators.multimodal.op_s" if g == "multimodal" else f"plans.{g}.op_s"
                layers[name] = (percentile(walls, 0.5), "s", len(walls))
        return Outcome(setup_s, ops, len(self.entries),
                       sum(not v for v in self.verified.values()), layers, self.notes)
