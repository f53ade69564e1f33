#!/usr/bin/env python3
"""A/B two revisions on one pipebench workload.

Usage:
    python3 tools/ab.py <parent-rev> <change-rev> --workload <w> --seeds <a>-<b>
        [--seconds 8] [--dir <scratch>] [--keep]

Each revision is exported with `git archive` into its own directory under
--dir (default: a new temporary directory) and built once through
pipebench's own build. The revision `WORKTREE` exports the working tree
instead: tracked and untracked files that git does not ignore.

Then, for each seed, both sides run `pipebench/run.py --workload <w>
--seed <s> --seconds <n> --trace 0`, one at a time; odd seeds run the
change first, even seeds the parent first. Any run that fails or reads
`correct: false` stops the A/B with exit code 1.

The output is a markdown table over the end-to-end metrics that
BENCHMARK.json (of this checkout) declares: both medians, the change in
percent, the parent's interquartile range, the spread (the wider side's
max - min across seeds, in percent of the parent's median), the number
of seeds on which the change was better (per the metric's `better`
direction), whether the gain rule holds (better on at least 9 of 10
pairs, and in the median by more than the parent's IQR), and the bound
verdict:

- WORSE: the change's median is worse than the parent's by more than
  the metric's bound (a fraction of the parent's median);
- unresolved: not WORSE, but the spread is wider than the bound, so a
  median within the bound shows nothing. Not printed when the gain
  rule holds or when every change run is better than every parent run;
- within: otherwise.

The per-seed values follow in a second table. With --keep, each side's
last run output stays under <dir>/<side>/pipebench/work for an output
comparison. Only the standard library is used.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the files of `rev` (or of the working tree) into `dest`."""
    os.makedirs(dest)
    if rev == "WORKTREE":
        names = subprocess.run(
            ["git", "ls-files", "-co", "--exclude-standard", "-z"], cwd=ROOT,
            check=True, capture_output=True).stdout.split(b"\0")
        for name in (n.decode() for n in names if n):
            src = os.path.join(ROOT, name)
            if os.path.isfile(src):
                os.makedirs(os.path.join(dest, os.path.dirname(name)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, name))
    else:
        archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def build(side):
    """Build a side once through pipebench's own classpath step."""
    code = ("import sys; sys.path.insert(0, 'pipebench'); import run; "
            "run.classpath()")
    subprocess.run([sys.executable, "-c", code], cwd=side, check=True)


def run_once(side, workload, seed, seconds):
    """One pipebench run; returns its result record (the last stdout line)."""
    p = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab: run failed in {side} (seed {seed}, exit {p.returncode})")
    rec = json.loads(lines[-1])
    if not rec.get("correct"):
        raise SystemExit(f"ab: correct=false in {side} (seed {seed}): {lines[-1]}")
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--dir", help="where to export both sides (default: a new temp dir)")
    ap.add_argument("--keep", action="store_true", help="keep the exports afterwards")
    args = ap.parse_args()
    a, _, b = args.seeds.partition("-")
    seeds = list(range(int(a), int(b or a) + 1))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    base = args.dir or tempfile.mkdtemp(prefix="ab-")
    sides = {"parent": os.path.join(base, "parent"), "change": os.path.join(base, "change")}
    try:
        for name, rev in (("parent", args.parent), ("change", args.change)):
            export(rev, sides[name])
            build(sides[name])
        values = {"parent": [], "change": []}
        for seed in seeds:
            order = ("change", "parent") if seed % 2 else ("parent", "change")
            for name in order:
                rec = run_once(sides[name], args.workload, seed, args.seconds)
                values[name].append({k: v["value"] for k, v in rec["metrics"].items()})
                print(f"seed {seed} {name}: " + json.dumps(values[name][-1]), file=sys.stderr)
    finally:
        if not args.keep:
            shutil.rmtree(base, ignore_errors=True)

    report(args.workload, seeds, args.seconds, args.parent, args.change, metrics, values)


def verdict(m, p, c):
    """The bound verdict for metric `m` over parent runs `p` and change runs
    `c` (see the module doc), and whether the gain rule holds."""
    pm, cm = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    sign = 1 if m["better"] == "lower" else -1
    won = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
    gain = won * 10 >= 9 * len(p) and sign * (pm - cm) > q3 - q1
    bound = m["bound"] * abs(pm)
    if sign * (cm - pm) > bound:
        return "WORSE", won, gain
    worst_change = max(c) if sign > 0 else min(c)
    best_parent = min(p) if sign > 0 else max(p)
    all_better = sign * (best_parent - worst_change) > 0
    spread = max(max(p) - min(p), max(c) - min(c))
    if spread > bound and not gain and not all_better:
        return "unresolved", won, gain
    return "within", won, gain


def report(workload, seeds, seconds, parent, change, metrics, values):
    """Print the markdown tables for `values` (per side, one metric dict per
    seed) over the BENCHMARK.json end-to-end `metrics`."""
    print(f"`{workload}`, seeds {seeds[0]}-{seeds[-1]}, `--seconds {seconds:g}`, "
          f"parent `{parent}`, change `{change}`, "
          f"order alternating per seed (odd: change first).\n")
    print("| metric | parent median | change median | change | parent IQR | spread "
          "| pairs won | gain rule | bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    metrics = [m for m in metrics if m["name"] in values["parent"][0]]
    names = [m["name"] for m in metrics]
    for m in metrics:
        n = m["name"]
        p = [v[n] for v in values["parent"]]
        c = [v[n] for v in values["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        word, won, gain = verdict(m, p, c)
        pct = (cm - pm) / pm * 100 if pm else float("nan")
        spread = max(max(p) - min(p), max(c) - min(c)) / abs(pm) * 100 if pm else float("nan")
        print(f"| `{n}` | {fmt(pm)} | {fmt(cm)} | {pct:+.1f}% | {fmt(q3 - q1)} | "
              f"{spread:.0f}% | {won}/{len(p)} | {'met' if gain else 'not met'} | "
              f"{word} ({m['bound']:g}) |")
    print("\n| seed | " + " | ".join(f"`{n}` parent / change" for n in names) + " |")
    print("|---|" + "---|" * len(names))
    for i, seed in enumerate(seeds):
        cells = [f"{fmt(values['parent'][i][n])} / {fmt(values['change'][i][n])}" for n in names]
        print(f"| {seed} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
