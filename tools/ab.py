#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark: HEAD against the working
tree, one workload, N pairs of runs at perfbench/run.py's default length.

    python3 tools/ab.py --workload live_psi --pairs 10 --seed 9101

HEAD is exported with `git archive` into a temporary directory, so it
builds and runs from its own committed files, as the working tree does
from its own. Pair i runs both sides on seed `--seed + i`, HEAD first on
even pairs and the working tree first on odd ones, so drift in the
machine's speed falls on both sides alike. Runs are never concurrent.

For every end-to-end metric in BENCHMARK.json it prints each side's
median and quartiles over its correct runs, the change of the median,
the working tree's wins out of all pairs run, and whether the gain is
clear: wins in at least 9 of 10 pairs, a median gap wider than the
base's interquartile range, and no larger share of failed operations
than the base. A pair counts as a win only when both runs finished
correct and the working tree's value is better.

Every run is kept: the working tree's run records stay in its own
.bench_build/runs/, the base's are copied to .bench_build/ab/base-runs/
before the temporary checkout is removed, and every pair's result lines
go to .bench_build/ab/<workload>-seed<seed>.json. Nothing under
perfbench/ is changed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "ab")


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def export(dest):
    """Writes the committed tree of HEAD into `dest`."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "HEAD"],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit("git archive HEAD failed")
    if not os.path.exists(os.path.join(dest, "perfbench", "run.py")):
        raise SystemExit("HEAD has no perfbench/run.py")


def run(side, checkout, workload, seed):
    """One benchmark run; its result line, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    log(f"{side:6s} seed {seed}: " + (
        f"{time.time() - t0:.0f} s, correct={res['correct']}" if res else
        f"failed (exit {p.returncode}): {p.stderr.strip()[-300:]}"))
    return res


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def value(r, name):
    """A run's metric value, or None when the run failed, was incorrect
    or has no value for the metric."""
    return r["metrics"][name]["value"] if r and r["correct"] else None


def failed_share(runs):
    ok = [r for r in runs if r]
    attempted = sum(r["attempted"] for r in ok)
    return sum(r["failed"] for r in ok) / attempted if attempted else 0.0


def report(metrics, pairs):
    def values(side, name):
        return [v for v in (value(p[side], name) for p in pairs)
                if v is not None]

    def fmt(x):
        return "-" if x is None else f"{x:.4g}"

    no_more_failures = (failed_share([p["change"] for p in pairs]) <=
                        failed_share([p["base"] for p in pairs]))
    rows = [("metric", "base median [q1, q3]", "change median [q1, q3]",
             "change", "wins", "clear gain")]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b, c = values("base", name), values("change", name)
        if not b or not c:
            rows.append((name, "-", "-", "-", "-", "-"))
            continue
        bm, cm = statistics.median(b), statistics.median(c)
        (b1, b3), (c1, c3) = quartiles(b), quartiles(c)
        both = [(value(p["base"], name), value(p["change"], name))
                for p in pairs]
        wins = sum(1 for x, y in both if x is not None and y is not None
                   and (y < x if lower else y > x))
        gain = (bm - cm) if lower else (cm - bm)
        clear = (wins >= 0.9 * len(pairs) and gain > b3 - b1
                 and no_more_failures)
        rows.append((name, f"{fmt(bm)} [{fmt(b1)}, {fmt(b3)}]",
                     f"{fmt(cm)} [{fmt(c1)}, {fmt(c3)}]",
                     f"{(cm - bm) / bm:+.1%}" if bm else "-",
                     f"{wins}/{len(pairs)}", "yes" if clear else "no"))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(s.ljust(w) for s, w in zip(r, widths)).rstrip())
    for side in ("base", "change"):
        rs = [p[side] for p in pairs]
        ok = [r for r in rs if r]
        print(f"{side}: {len(ok)}/{len(rs)} runs finished, "
              f"{sum(r['correct'] for r in ok)} correct, "
              f"{sum(r['failed'] for r in ok)} of "
              f"{sum(r['attempted'] for r in ok)} operations failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True,
                    help="seed of the first pair; pair i uses seed + i")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    head = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True,
                          check=True).stdout.strip()
    os.makedirs(OUT, exist_ok=True)
    record = os.path.join(OUT, f"{a.workload}-seed{a.seed}.json")
    base = tempfile.mkdtemp(prefix="ab-base-")
    try:
        export(base)
        log(f"HEAD {head} exported to {base}")
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            sides = [("base", base), ("change", ROOT)]
            pair = {"seed": seed}
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                pair[side] = run(side, checkout, a.workload, seed)
            pairs.append(pair)
            with open(record, "w") as f:
                json.dump({"workload": a.workload, "base": head,
                           "pairs": pairs}, f)
    finally:
        runs = os.path.join(base, ".bench_build", "runs")
        if os.path.isdir(runs):
            shutil.copytree(runs, os.path.join(OUT, "base-runs"),
                            dirs_exist_ok=True)
        shutil.rmtree(base, ignore_errors=True)
    log(f"pairs written to {record}")
    print(f"{a.workload}: HEAD {head} (base) vs working tree (change), "
          f"{a.pairs} interleaved pairs, seeds {a.seed}-{a.seed + a.pairs - 1}")
    report(metrics, pairs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
