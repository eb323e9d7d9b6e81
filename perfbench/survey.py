"""Survey of every ``bench=True`` registry entry, and the stratified
choice of the entries the roster workloads time.

    python3 perfbench/survey.py --seed 1 --sf 0.01 --passes 3 --interactive --json s1.json
    python3 perfbench/survey.py --pool s1.json s2.json --k 10

One process, one session, the same generated tables and the same op as
the roster workloads (``Plan.spark`` then ``limit(20).collect()`` with
``--interactive``, the noop sink without). An untimed pass builds every
entry and checks it against its DuckDB oracle; then ``--passes`` traced
passes, each in an order drawn from the seed, time every entry. The
output lists each entry's median construction and action time and the
Spark jobs its construction launches, then compares the full roster with
the stratified subset ``choose`` picks from it and with
``workloads.ROSTER``. ``--json`` also writes the per-entry figures;
``--pool`` runs nothing and chooses from the mean times of several such
files, comparing the choice with each of them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def choose(entries: dict[str, dict], k: int) -> list[str]:
    """A stratified sample of ``k`` entries. Entries are ranked by their
    median op latency and cut into ``k`` strata of (nearly) equal count,
    so each pick stands for the same number of entries. A stratum offers,
    for each registering module it holds, that module's entry whose
    construction share of its latency is closest to the stratum's own.
    Of the subsets that take one offer per stratum and hold every module
    (any subset, if none does), the pick is the one whose construction
    share and mean latency are closest to the whole roster's: the least
    sum of the share's distance and the mean's relative distance."""
    from itertools import product

    def share(names):
        return (sum(entries[n]["construct"] for n in names)
                / sum(entries[n]["wall"] for n in names))

    def mean(names):
        return sum(entries[n]["wall"] for n in names) / len(names)

    ranked = sorted(entries, key=lambda n: (entries[n]["wall"], n))
    offers = []
    for i in range(k):
        stratum = ranked[len(ranked) * i // k: len(ranked) * (i + 1) // k]
        s = share(stratum)
        best: dict[str, str] = {}
        for n in sorted(stratum, key=lambda n: (
                abs(entries[n]["construct"] / entries[n]["wall"] - s), n)):
            best.setdefault(entries[n]["group"], n)
        offers.append(sorted(best.values()))
    groups = {e["group"] for e in entries.values()}
    whole_share, whole_mean = share(list(entries)), mean(list(entries))
    subsets = list(product(*offers))
    covering = [c for c in subsets if {entries[n]["group"] for n in c} == groups]
    return list(min(covering or subsets, key=lambda c: (
        abs(share(c) - whole_share) + abs(mean(c) - whole_mean) / whole_mean, c)))


def summary(entries: dict[str, dict], names: list[str]) -> dict[str, float]:
    """Latency distribution and construction share of a set of entries,
    one op of each."""
    from measure import percentile

    walls = [entries[n]["wall"] for n in names]
    return {
        "entries": len(names),
        "mean_s": sum(walls) / len(walls),
        "p50_s": percentile(walls, 0.5),
        "p90_s": percentile(walls, 0.9),
        "construct_share": sum(entries[n]["construct"] for n in names) / sum(walls),
        "construct_jobs": sum(entries[n]["construct_jobs"] for n in names) / len(names),
    }


def survey(args) -> dict[str, dict]:
    """Run every bench entry in one session; per-entry figures."""
    import random

    work = os.path.join(run.ROOT, ".bench_work", f"survey-{args.seed}-{os.getpid()}")
    run._environment(work)
    import workloads
    from measure import percentile

    os.chdir(work)
    sess = workloads.Session(run.ROOT, trace=True)
    try:
        names = sorted(n for n, p in sess.plans.items() if p.bench)
        roster = workloads.Roster(sess, work, args.seed, False, args.sf,
                                  args.interactive, names)
        roster.check_pass()
        rng = random.Random(args.seed)
        seen: dict[str, list] = {n: [] for n in names}
        op_id = 0
        for _ in range(args.passes):
            for p in rng.sample(roster.entries, len(roster.entries)):
                op_id += 1
                op = roster.op(op_id, p)
                jobs = workloads._op_counters(sess, op_id)["construct_jobs"]
                seen[p.name].append((op.construct_s, op.action_s, jobs, op.ok))
    finally:
        sess.stop()
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
        run._rmdir_if_empty(os.path.dirname(work))

    for line in roster.notes:
        print(f"# {line}")
    entries = {}
    for n, runs in seen.items():
        c = percentile([r[0] for r in runs], 0.5)
        a = percentile([r[1] for r in runs], 0.5)
        entries[n] = {"group": workloads.plan_group(sess.plans[n]), "construct": c,
                      "action": a, "wall": c + a, "construct_jobs": runs[0][2],
                      "ok": all(r[3] for r in runs)}
    return entries


def pool(paths: list[str]) -> dict[str, dict]:
    """Mean construction and action time of each entry over surveys."""
    surveys = []
    for path in paths:
        with open(path) as f:
            surveys.append(json.load(f))
    out = {}
    for n, e in surveys[0].items():
        c = sum(s[n]["construct"] for s in surveys) / len(surveys)
        a = sum(s[n]["action"] for s in surveys) / len(surveys)
        out[n] = {**e, "construct": c, "action": a, "wall": c + a,
                  "ok": all(s[n]["ok"] for s in surveys)}
    return out


def compare_sets(label: str, entries: dict[str, dict], picks: list[str]) -> None:
    from workloads import ROSTER

    print(f"\n{label}")
    print(f"{'set':22s} {'entries':>7s} {'mean_s':>7s} {'p50_s':>7s} {'p90_s':>7s} "
          f"{'construct_share':>15s} {'construct_jobs':>14s}")
    for name, subset in (("all bench entries", sorted(entries)),
                         (f"choose(k={len(picks)})", picks), ("workloads.ROSTER", ROSTER)):
        s = summary(entries, subset)
        print(f"{name:22s} {s['entries']:7d} {s['mean_s']:7.3f} {s['p50_s']:7.3f} "
              f"{s['p90_s']:7.3f} {s['construct_share']:15.3f} {s['construct_jobs']:14.2f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--sf", type=float)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--interactive", action="store_true")
    ap.add_argument("--k", type=int, default=0, help="subset size; 0: that of ROSTER")
    ap.add_argument("--json", help="also write the per-entry figures here")
    ap.add_argument("--pool", nargs="+", metavar="JSON",
                    help="run nothing: choose from the mean of these surveys")
    args = ap.parse_args(argv)
    if not args.pool and (args.seed is None or args.sf is None):
        ap.error("a survey needs --seed and --sf")
    if run.ROOT not in sys.path:
        sys.path.insert(0, run.ROOT)
    import workloads

    entries = pool(args.pool) if args.pool else survey(args)
    print(f"{'entry':34s} {'group':10s} {'construct_s':>11s} {'action_s':>9s} "
          f"{'jobs':>4s} ok")
    for n in sorted(entries, key=lambda n: entries[n]["wall"]):
        e = entries[n]
        print(f"{n:34s} {e['group']:10s} {e['construct']:11.3f} {e['action']:9.3f} "
              f"{e['construct_jobs']:4d} {e['ok']}")
    picks = choose(entries, args.k or len(workloads.ROSTER))
    compare_sets("this survey" if not args.pool else "pooled surveys", entries, picks)
    for path in args.pool or []:
        compare_sets(path, pool([path]), picks)
    print("\nchoose:", " ".join(picks))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(entries, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
