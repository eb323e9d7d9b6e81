"""Benchmark of the engine, run from the root of a checkout.

    python3 perfbench/run.py --workload ssins_archive --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

One workload per process: the run builds its inputs from ``--seed``
under ``.bench_work/`` in the checkout, starts a ``local[nproc]``
session with the engine's own defaults, sets up, runs whole passes of
ops for ``--seconds``, checks every op's result, stops the session and
removes its inputs. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it list the same metrics with their sample
counts.

``--workload all`` runs every workload untraced and then traced, each in
its own process, prints every metric by name, and reports the tracing
overhead (traced minus untraced ``latency_p50_s``) per workload.
``--plant-mismatch`` corrupts one expected result, to show that the
checks catch a wrong answer.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ssins_archive", "roster_sf0.1", "interactive_sf0.01")

#: (name, unit) of every end-to-end metric, printed with --trace 0.
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("ops_per_s", "1/s"),
    ("vis_cells_per_s", "1/s"),
    ("correct_frac", "frac"),
]

#: (name, unit) of every per-layer metric, printed with --trace 1. A
#: layer that a workload does not exercise reads 0 there.
PER_LAYER = [
    ("session.start_s", "s"),
    ("plans.load_all_s", "s"),
    ("mwab.pack_s", "s"),
    ("mwab.bytes_written", "bytes"),
    ("plans.construct_s", "s"),
    ("plans.construct_jobs", "count"),
    ("plans.construct_share", "frac"),
    ("plans.tpch.op_s", "s"),
    ("plans.text.op_s", "s"),
    ("plans.events.op_s", "s"),
    ("plans.domain.op_s", "s"),
    ("plans.relational.op_s", "s"),
    ("operators.multimodal.op_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.core_busy_frac", "frac"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("mwab.scans_per_op", "count"),
    ("mwab.scan_s", "s"),
    ("mwab.rows_per_s", "1/s"),
    ("pipeline.construct_s", "s"),
    ("operators.flags_s", "s"),
    ("operators.select_s", "s"),
    ("operators.diff_s", "s"),
    ("operators.ins_s", "s"),
    ("operators.zscore_s", "s"),
    ("operators.matchfilter_s", "s"),
    ("operators.select.rows_out", "count"),
    ("operators.diff.rows_out", "count"),
    ("operators.ins.rows_out", "count"),
    ("operators.matchfilter.flagged_cells", "count"),
    ("cache.entries_after_op", "count"),
    ("cache.bytes_held", "bytes"),
    ("jvm.heap_used_peak_mb", "MB"),
    ("trace.latency_p50_s", "s"),
    ("trace.span_coverage", "frac"),
]


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and give Spark
    one core per CPU this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def end_to_end(out) -> tuple[dict, dict, int, int]:
    """End-to-end metrics of one run: (values, sample counts, attempted,
    failed). Checked ops outside the timed phase count as attempted."""
    from measure import percentile

    ops = out.ops
    walls = [o.wall for o in ops]
    timed_wall = sum(walls)
    good = [o for o in ops if o.ok]
    vis = [o for o in ops if o.cells]
    attempted = len(ops) + out.checked
    failed = sum(not o.ok for o in ops) + out.check_failed
    values = {
        "setup_s": out.setup_s,
        "latency_p50_s": percentile(walls, 0.5),
        "latency_p90_s": percentile(walls, 0.9),
        "ops_per_s": len(good) / timed_wall,
        "vis_cells_per_s": sum(o.cells for o in vis if o.ok) / timed_wall,
        "correct_frac": (attempted - failed) / attempted,
    }
    samples = {
        "setup_s": 1, "latency_p50_s": len(ops), "latency_p90_s": len(ops),
        "ops_per_s": len(ops), "vis_cells_per_s": len(vis), "correct_frac": attempted,
    }
    return values, samples, attempted, failed


def run_one(args) -> int:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        import workloads  # imports the engine: without it the run stops here

        os.chdir(work)
        sess = workloads.Session(ROOT, bool(args.trace))
        try:
            if args.workload == "ssins_archive":
                wl = workloads.SsinsArchive(sess, work, args.seed, args.plant_mismatch)
            else:
                sf = 0.1 if args.workload == "roster_sf0.1" else 0.01
                wl = workloads.Roster(sess, work, args.seed, args.plant_mismatch, sf,
                                      interactive=args.workload == "interactive_sf0.01")
            out = wl.run(args.seconds, T_PROCESS)
        finally:
            sess.stop()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(work))
    from measure import samples_beyond

    values, samples, attempted, failed = end_to_end(out)
    if args.trace:
        names = PER_LAYER
        values = {n: out.layers.get(n, (0.0,))[0] for n, _ in PER_LAYER}
        samples = {n: out.layers.get(n, (0, "", 0))[2] for n, _ in PER_LAYER}
    else:
        names = END_TO_END
    for line in out.notes:
        print(f"# {line}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(out.ops)} attempted={attempted} failed={failed}")
    for n, unit in names:
        beyond = ""
        if n == "latency_p90_s":
            beyond = f" ({samples_beyond(samples[n], 0.9)} beyond the p90)"
        print(f"#   {n:40s} {values[n]:>16.6g} {unit:6s} n={samples[n]}{beyond}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": unit} for n, unit in names},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, one process each."""
    rows: dict[str, dict[int, dict]] = {}
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            if args.plant_mismatch:
                cmd.append("--plant-mismatch")
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = res.stdout.splitlines()
            print("\n".join(lines[:-1]))
            if res.returncode != 0 or not lines:
                print(f"{wl} trace={trace}: exit {res.returncode}")
                return 1
            rows.setdefault(wl, {})[trace] = json.loads(lines[-1])
    print("\nworkload              metric                                      value  unit")
    for wl, by_trace in rows.items():
        for trace in (0, 1):
            r = by_trace[trace]
            print(f"{wl:21s} {'correct':40s} {str(r['correct']):>12s}  "
                  f"attempted={r['attempted']} failed={r['failed']}")
            for n, m in r["metrics"].items():
                print(f"{wl:21s} {n:40s} {m['value']:>12.6g}  {m['unit']}")
        overhead = (by_trace[1]["metrics"]["trace.latency_p50_s"]["value"]
                    - by_trace[0]["metrics"]["latency_p50_s"]["value"])
        print(f"{wl:21s} {'trace.overhead_p50_s':40s} {overhead:>12.6g}  s")
    return 0 if all(r[t]["correct"] for r in rows.values() for t in (0, 1)) else 1


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops its session and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-mismatch", action="store_true")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
