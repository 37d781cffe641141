#!/usr/bin/env python3
"""A/B table of perfbench runs: parent commit vs change.

Each perfbench run prints one JSON line ({"correct", "attempted", "failed",
"metrics": {name: {"value", "unit"}}}). Collect the lines of alternating
parent/change runs into one file per side and workload, and pass each
workload as WORKLOAD:PARENT.jsonl:CHANGE.jsonl (pair i = line i of each
file), for example

    python3 tools/ab_table.py read_mix:parent.jsonl:change.jsonl \\
        ingest_bulk:parent_ib.jsonl:change_ib.jsonl --claim read_mix/latency_p50_s

For every workload it prints the BASELINE.md table of the end-to-end metrics
in BENCHMARK.json (plus any --metric NAME, e.g. a traced run's per-layer
metric): median [Q1-Q3] per side, change/parent, the metric's bound, and
"better in" (pairs where the change reads better; ties count for neither).
Each metric then gets the gain verdict: a gain holds only when the change is
better in at least 9/10 of the pairs AND the medians differ by more than the
parent's interquartile range. A median worse than the parent by more than
its bound is flagged. Exit status 1 when a --claim does not hold, a bound is
broken or any run has failed operations.

perfbench prints some per-operation figures only on standard error, as
`[perfbench] NAME  value unit` lines (for example `full_read_s (median)` and
`feed_catchup_rows_per_s` of read_mix). To tabulate them, save each run's
standard error to its own file and add the two sides' logs to the group as
one glob each, which must list the runs in the order of the JSONL lines once
expanded in natural order (run_2.err sorts before run_10.err):

    python3 tools/ab_table.py 'read_mix:parent.jsonl:change.jsonl:p_*.err:c_*.err' \
        --note full_read_s --note feed_catchup_rows_per_s

A note matches a line whose name is NAME, with or without its trailing
parenthetical ("(median)", "(n=60)"). It gets the same median [Q1-Q3] and
better-in columns, higher being better for a unit per second, but no bound
and no gain verdict.
"""

import argparse
import glob
import json
import os
import re
import sys


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip().startswith("{")]


NOTE = re.compile(r"^\[perfbench\] (\S.*?)\s{2,}(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)\s*(\S*)\s*$")


def notes(path):
    """{name: (value, unit)} of one run's `[perfbench] NAME  value unit` lines;
    a name with a trailing parenthetical is also kept without it."""
    out = {}
    with open(path, errors="replace") as f:
        for line in f:
            m = NOTE.match(line.rstrip("\n"))
            if m:
                name, value, unit = m.group(1).strip(), float(m.group(2)), m.group(3)
                out[name] = (value, unit)
                out.setdefault(re.sub(r"\s*\(.*\)$", "", name), (value, unit))
    return out


def natural(path):
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", path)]


def pairs_of(spec):
    """(workload, [(parent run, change run)]) from a WORKLOAD:... argument;
    each run carries its stderr notes under "notes" when logs are given."""
    name, *files = spec.split(":")
    if len(files) not in (2, 4):
        sys.exit(f"bad group {spec!r}: want WORKLOAD:PARENT.jsonl:CHANGE.jsonl"
                 "[:PARENT_LOG_GLOB:CHANGE_LOG_GLOB]")
    parent, change = load(files[0]), load(files[1])
    if len(parent) != len(change):
        sys.exit(f"{spec}: {len(parent)} parent runs vs {len(change)} change runs")
    for runs, arg in zip((parent, change), files[2:]):
        logs = sorted(glob.glob(arg), key=natural)
        if len(logs) != len(runs):
            sys.exit(f"{spec}: {len(logs)} logs for {len(runs)} runs ({arg})")
        for run, log in zip(runs, logs):
            run["notes"] = notes(log)
    return name, list(zip(parent, change))


def side_by_side(par, chg, lower):
    """median [Q1-Q3] of each side, their ratio, and the pairs the change wins"""
    wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
    mp, mc = quantile(par, 0.5), quantile(chg, 0.5)
    return wins, mp, mc, (mc / mp if mp else float("nan"))


def fmt(x):
    if abs(x) >= 1000:
        return f"{x:,.0f}"
    if abs(x) >= 100:
        return f"{x:.2f}"
    if abs(x) >= 1:
        return f"{x:.3f}"
    return f"{x:.4g}"


def summary(xs):
    return f"{fmt(quantile(xs, 0.5))} [{fmt(quantile(xs, 0.25))}–{fmt(quantile(xs, 0.75))}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("groups", nargs="+", help="WORKLOAD:PARENT.jsonl:CHANGE.jsonl")
    ap.add_argument("--metric", action="append", default=[],
                    help="another metric to tabulate (lower is better unless BENCHMARK.json says otherwise)")
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD/METRIC whose gain must hold")
    ap.add_argument("--note", action="append", default=[],
                    help="a `[perfbench] NAME value` stderr line to tabulate, no gate "
                         "(needs the runs' logs in the group)")
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench.get("end_to_end", [])}
    better = {m["name"]: m.get("better", "lower") for m in bench.get("per_layer", [])}
    better.update({n: m["better"] for n, m in spec.items()})
    metrics = list(spec) + [m for m in args.metric if m not in spec]

    ok = True
    gains = {}
    for group in args.groups:
        workload, pairs = pairs_of(group)
        n = len(pairs)
        failed = [sum(r.get("failed", 0) for r in side) for side in zip(*pairs)]
        wrong = [sum(not r.get("correct", False) for r in side) for side in zip(*pairs)]
        print(f"\n**{workload}**, {n} pairs (median [Q1–Q3]; \"better in\" = pairs where the "
              f"change reads better). Failed operations: parent {failed[0]}, change {failed[1]}; "
              f"incorrect runs: parent {wrong[0]}, change {wrong[1]}.\n")
        if any(failed) or any(wrong):
            ok = False
        print("| metric | parent | change | change/parent | bound | better in | gain (≥9/10 and > parent IQR) |")
        print("|---|---|---|---|---|---|---|")
        for m in metrics:
            if not all(m in r["metrics"] for pair in pairs for r in pair):
                continue
            par = [p["metrics"][m]["value"] for p, _ in pairs]
            chg = [c["metrics"][m]["value"] for _, c in pairs]
            lower = better.get(m, "lower") == "lower"
            wins, mp, mc, ratio = side_by_side(par, chg, lower)
            iqr = quantile(par, 0.75) - quantile(par, 0.25)
            gap = (mp - mc) if lower else (mc - mp)
            gain = 10 * wins >= 9 * n and gap > iqr
            gains[f"{workload}/{m}"] = gain
            bound = spec.get(m, {}).get("bound")
            broken = bound is not None and ((ratio > 1 + bound) if lower else (ratio < 1 - bound))
            if broken:
                ok = False
            verdict = f"{'yes' if gain else 'no'} (gap {fmt(gap)}, IQR {fmt(iqr)})"
            print(f"| {m} | {summary(par)} | {summary(chg)} | {ratio:.3f} | "
                  f"{'—' if bound is None else bound}{' **OUT OF BOUND**' if broken else ''} | "
                  f"{wins}/{n} | {verdict} |")
        for note in args.note:
            runs = [r for pair in pairs for r in pair]
            if not all(note in r.get("notes", {}) for r in runs):
                print(f"| {note} (stderr) | — | — | — | — | — | missing from "
                      f"{sum(note not in r.get('notes', {}) for r in runs)} runs' logs |")
                continue
            par = [p["notes"][note][0] for p, _ in pairs]
            chg = [c["notes"][note][0] for _, c in pairs]
            lower = not runs[0]["notes"][note][1].endswith("/s")
            wins, _, _, ratio = side_by_side(par, chg, lower)
            print(f"| {note} (stderr) | {summary(par)} | {summary(chg)} | {ratio:.3f} | — | "
                  f"{wins}/{n} | no gate |")
    for c in args.claim:
        held = gains.get(c)
        print(f"\nclaim {c}: {'holds' if held else 'missing' if held is None else 'does not hold'}")
        ok = ok and bool(held)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
