#!/usr/bin/env python3
"""Compare two bench records (bench_out.json) leg by leg.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--ratio 1.3] [--abs 0.3]

Prints legs whose official (warm-min) time moved more than --ratio AND
more than --abs seconds in either direction, annotated with the record's
own evidence: wall-guard / retry / unstable flags and per-run detail for
flagged legs, so a contention artifact is visible as such instead of
reading as a regression (the r15 lesson: a 39.3 s guarded rep of a
1.3 s leg was canonized; the reps_detail carries the proof either way).
Also diffs the scale-probe legs (``<leg>_sec`` fields), prints each probe
leg's throughput derived as ``<leg>_rows / <leg>_sec``, and lists legs
that exist on one side only. A failed leg reads null (records before the
null rule used -1); it is reported as failed, never as a time. Exit code
0 always — this is a readout, not a gate; the DuckDB oracle is the gate.
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def probe(rec):
    p = rec.get("scale_probe") or {}
    return p if isinstance(p, dict) else {}


def failed(v):
    """A leg's value is a failure when null (or the older -1)."""
    return not isinstance(v, (int, float)) or v <= 0


def probe_secs(rec):
    # *_sec are wall-time legs; older records also carry *_per_sec
    # throughput RATES — comparing those as seconds inverts the story
    return {k[:-4]: v for k, v in probe(rec).items()
            if k.endswith("_sec") and not k.endswith("_per_sec")
            and (v is None or isinstance(v, (int, float)))}


def probe_rates(rec):
    """Throughput per probe leg: <leg>_rows / <leg>_sec (None if failed)."""
    p = probe(rec)
    return {leg: None if failed(t) else p[leg + "_rows"] / t
            for leg, t in probe_secs(rec).items()
            if isinstance(p.get(leg + "_rows"), (int, float))}


GATE_FLAGS = (("wall_guarded", "guarded"), ("retried", "retried"),
              ("unstable_legs", "unstable"), ("failed_legs", "FAILED"))
PROBE_FLAGS = (("probe_guarded", "guarded"), ("probe_retried", "retried"),
               ("probe_unstable", "unstable"), ("probe_failed", "FAILED"))


def flags(rec, leg):
    out = []
    for field, tag in GATE_FLAGS:
        if leg in (rec.get(field) or []):
            out.append(tag)
    for field, tag in PROBE_FLAGS:
        if leg in (probe(rec).get(field) or []):
            out.append(tag)
    return out


def detail(rec, leg):
    for d in (rec.get("reps_detail") or {}, probe(rec).get("probe_detail") or {}):
        if isinstance(d, dict) and leg in d:
            return d[leg]
    return None


def fmt_sec(v):
    return "FAILED" if failed(v) else f"{v:.3f}s"


def fmt_rate(v):
    return "-" if v is None else f"{v:,.0f}/s"


def diff(old, new, old_rec, new_rec, ratio, abs_s, label):
    common = sorted(set(old) & set(new))
    movers = []
    for leg in common:
        o, n = old[leg], new[leg]
        if failed(o) and failed(n):
            continue  # failed on both sides: nothing moved, not a mover
        if failed(o) or failed(n):
            # failed on exactly one side — that IS news
            movers.append((leg, o, n, float("inf")))
            continue
        r = n / o
        if (r > ratio or r < 1 / ratio) and abs(n - o) > abs_s:
            movers.append((leg, o, n, r))
    print(f"== {label}: {len(common)} common legs, {len(movers)} movers "
          f"(>{ratio}x and >{abs_s}s) ==")
    for leg, o, n, r in sorted(movers, key=lambda m: -abs(m[3] - 1)):
        fl = flags(new_rec, leg) + [f"old:{f}" for f in flags(old_rec, leg)]
        note = f"  [{', '.join(fl)}]" if fl else ""
        print(f"  {leg}: {fmt_sec(o)} -> {fmt_sec(n)}  ({r:.2f}x){note}")
        for side, rec in (("old", old_rec), ("new", new_rec)):
            d = detail(rec, leg)
            if d:
                print(f"    {side} runs: warmup={d.get('warmup')} "
                      f"runs={d.get('runs')}")
    gone = sorted(set(old) - set(new))
    born = sorted(set(new) - set(old))
    if gone:
        print(f"  only in old: {', '.join(gone)}")
    if born:
        print(f"  only in new: {', '.join(born)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--ratio", type=float, default=1.3)
    ap.add_argument("--abs", dest="abs_s", type=float, default=0.3)
    args = ap.parse_args()
    old_rec, new_rec = load(args.old), load(args.new)
    ot, nt = (sum(v for v in rec.get("queries", {}).values() if not failed(v))
              for rec in (old_rec, new_rec))
    print(f"total (sum of gate legs): {ot:.1f}s -> {nt:.1f}s")
    for rec, name in ((old_rec, "old"), (new_rec, "new")):
        fl = {k: rec.get(k) for k, _ in GATE_FLAGS if rec.get(k)}
        fl.update({k: probe(rec).get(k) for k, _ in PROBE_FLAGS
                   if probe(rec).get(k)})
        if fl:
            print(f"  {name} flags: {fl}")
    diff(old_rec.get("queries", {}), new_rec.get("queries", {}),
         old_rec, new_rec, args.ratio, args.abs_s, "gate legs")
    diff(probe_secs(old_rec), probe_secs(new_rec),
         old_rec, new_rec, args.ratio, args.abs_s, "scale-probe legs")
    old_rates, new_rates = probe_rates(old_rec), probe_rates(new_rec)
    if new_rates:
        print("== scale-probe throughput (<leg>_rows / <leg>_sec) ==")
        for leg in sorted(new_rates):
            print(f"  {leg}: {fmt_rate(old_rates.get(leg))} -> "
                  f"{fmt_rate(new_rates[leg])}")


if __name__ == "__main__":
    sys.exit(main())
