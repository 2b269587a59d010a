#!/usr/bin/env python3
"""Alternated parent/change pairs on the cold benchmark.

Usage:
    python3 tools/coldbench_pairs.py <parent_dir> <change_dir> <workload> <seed|first-last> ...

Both directories are checkouts of the repository (the parent is usually a
`git archive` of the parent commit). For every seed, in the order given,
the script runs

    python3 coldbench/run.py --workload <workload> --seed <seed> --seconds 10 --trace 0

once in each checkout. The side that runs first alternates seed by seed,
so a slow stretch of the host falls on both sides. Per seed it prints each
side's cold-chain wall, `text_mb_per_s`, `setup_s`, failed checks and the
host's stolen CPU share; then, per side, the median and interquartile range
(IQR) of each measure, how many pairs each side won on `text_mb_per_s`,
and whether the change's median gain exceeds the parent's IQR. The last
stdout line is the same as one JSON object.

Each checkout builds and caches its own benchmark classpath under its
`.bench_build/`; nothing under either checkout's `coldbench/` is written.
"""
import json
import os
import re
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def seeds_of(args):
    out = []
    for a in args:
        lo, _, hi = a.partition("-")
        out.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return out


def run(checkout, workload, seed):
    """One untraced run; its measures, or None values when it broke."""
    p = subprocess.run([sys.executable, "coldbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    rec = {"seed": seed, "exit": p.returncode, "chain_s": None, "text_mb_per_s": None,
           "setup_s": None, "failed": None, "attempted": None, "steal": None}
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if lines:
        res = json.loads(lines[-1])
        rec.update(failed=res["failed"], attempted=res["attempted"],
                   text_mb_per_s=res["metrics"]["text_mb_per_s"]["value"],
                   setup_s=res["metrics"]["setup_s"]["value"])
    m = re.search(r"chains \[([0-9.]+)", p.stderr)
    if m:
        rec["chain_s"] = float(m.group(1))
    m = re.search(r"stolen CPU share ([0-9.]+)", p.stderr)
    if m:
        rec["steal"] = float(m.group(1))
    if rec["text_mb_per_s"] is None:
        sys.stderr.write(p.stderr[-3000:])
    return rec


def spread(values):
    """(median, q1, q3) of the measured values."""
    v = sorted(x for x in values if x is not None)
    if not v:
        return None, None, None
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, _, q3 = statistics.quantiles(v, n=4)
    return statistics.median(v), q1, q3


def fmt(x, nd=3):
    return "-" if x is None else f"{x:.{nd}f}"


def main():
    if len(sys.argv) < 5:
        raise SystemExit(__doc__)
    dirs = dict(zip(SIDES, sys.argv[1:3]))
    workload = sys.argv[3]
    seeds = seeds_of(sys.argv[4:])
    for side, d in dirs.items():
        if not os.path.isfile(os.path.join(d, "coldbench", "run.py")):
            raise SystemExit(f"{side} dir {d} has no coldbench/run.py")
    recs = {s: [] for s in SIDES}
    print(f"{'seed':>6} {'side':>6} {'chain_s':>8} {'MB/s':>9} {'setup_s':>8} "
          f"{'failed':>7} {'steal':>6}", flush=True)
    for i, seed in enumerate(seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            r = run(dirs[side], workload, seed)
            recs[side].append(r)
            failed = "-" if r["failed"] is None else f"{r['failed']}/{r['attempted']}"
            print(f"{seed:>6} {side:>6} {fmt(r['chain_s'], 2):>8} {fmt(r['text_mb_per_s'], 5):>9} "
                  f"{fmt(r['setup_s'], 2):>8} {failed:>7} {fmt(r['steal']):>6}", flush=True)
    summary = {"workload": workload, "seeds": seeds, "runs": recs}
    for measure in ("chain_s", "text_mb_per_s", "setup_s"):
        for side in SIDES:
            med, q1, q3 = spread(r[measure] for r in recs[side])
            summary[f"{side}.{measure}"] = {"median": med, "q1": q1, "q3": q3,
                                            "iqr": None if med is None else q3 - q1}
            print(f"{side:>6} {measure:>14}: median {fmt(med, 5)}, IQR {fmt(q1, 5)}..{fmt(q3, 5)}")
    pairs = [(p["text_mb_per_s"], c["text_mb_per_s"]) for p, c in zip(recs["parent"], recs["change"])
             if p["text_mb_per_s"] is not None and c["text_mb_per_s"] is not None]
    wins = sum(c > p for p, c in pairs)
    pm, cm = summary["parent.text_mb_per_s"]["median"], summary["change.text_mb_per_s"]["median"]
    iqr = summary["parent.text_mb_per_s"]["iqr"]
    gain = None if pm is None or cm is None else cm - pm
    summary.update(change_wins=wins, pairs=len(pairs), median_gain=gain,
                   median_gain_pct=None if gain is None else 100 * gain / pm,
                   gain_exceeds_parent_iqr=None if gain is None else gain > iqr,
                   failed_checks={s: sum(r["failed"] or 0 for r in recs[s]) for s in SIDES})
    print(f"text_mb_per_s: change won {wins}/{len(pairs)} pairs; median gain "
          f"{fmt(summary['median_gain_pct'], 1)}% ({fmt(gain, 6)} MB/s) vs parent IQR "
          f"{fmt(iqr, 6)} MB/s; failed checks {summary['failed_checks']}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
