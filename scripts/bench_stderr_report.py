#!/usr/bin/env python3
"""Summarize a graft.Bench stderr progress log into the BASELINE.md
per-decade table inputs.

Bench prints one `[bench N/TOTAL] name W s (cold C s)` line per query as
it completes (W the warm min of the timed passes, C the first timed
pass), or `[bench N/TOTAL] name FAILED` (added r17 so a multi-hour suite
cut off at a deadline still leaves a complete record up to the cut), and
then one `[bench rerun] name S s` (or `FAILED`) line per suite-end rerun.
A rerun lowers the query's time to the min, and a failed rerun fails the
query, exactly as Bench settles them, so the timed total equals the total
line's `value`. This tool turns that log into: completed count, failed
queries, timed (warm) and cold totals, top-K, the output-bound split, and
growth ratios against reference ledger lines (e.g. the 10x decade or the
sf0.1 record).

Usage:
  bench_stderr_report.py <stderr-log> [--ledger BENCH_detail.jsonl]
      [--ref-dir /tmp/sf10x/sf1] [--ref-dir2 <resolved sf0.1 dir>]
      [--top 15]

Builder-side tool; not part of the Spark library.
"""
import argparse
import json
import re
import sys

# Lanes whose 100x cost is the ANSWER being written, not the algorithm:
# x190 expands the 2.7 G-row verified ED pair list; x12/x86/x98 each
# materialize the 27.31 M verified near-dup pairs of the clone corpus.
# (x191/x193 were presumed members from the r16 projection but measured
# output-bounded at 95 K / 30 K rows — 6.8 s / 7.8 s at 100x.)
OUTPUT_BOUND = {
    "x190_ed_simjoin", "x12_minhash_pairs",
    "x86_incremental_neardup", "x98_incremental_neardup_indexed",
}

ap = argparse.ArgumentParser()
ap.add_argument("log")
ap.add_argument("--ledger", default="BENCH_detail.jsonl")
ap.add_argument("--ref-dir", default=None,
                help="resolved data dir of the comparison decade (10x)")
ap.add_argument("--ref-dir2", default=None,
                help="resolved data dir of a second comparison (sf0.1)")
ap.add_argument("--top", type=int, default=15)
args = ap.parse_args()

pat = re.compile(r"^\[bench\s+(\d+)/(\d+)\] (\S+) (?:([0-9.]+) s(?: \(cold ([0-9.]+) s\))?|FAILED)")
pat_rerun = re.compile(r"^\[bench rerun\] (\S+) (?:([0-9.]+) s|FAILED)")
# RunOne resume lines: "[name] run 1: 12.345 s (N rows)" — the r17 OOM
# recovery path (the suite resumed under graft.RunOne in batches).
pat_runone = re.compile(r"^\[(\S+)\] run \d+: ([0-9.]+) s")
times, cold, failed, total_q = {}, {}, set(), None
for path in args.log.split(","):
    for line in open(path, errors="replace"):
        m = pat_rerun.match(line)
        if m:
            if m.group(2) is None:
                failed.add(m.group(1))
                times.pop(m.group(1), None)
            elif m.group(1) in times:
                times[m.group(1)] = min(times[m.group(1)], float(m.group(2)))
            continue
        m = pat.match(line)
        if m:
            total_q = int(m.group(2))
            if m.group(4) is None:
                failed.add(m.group(3))
                continue
            # min across sources if a query appears twice (same rule as
            # the RunOne branch below — merged value must not depend on
            # the order log paths are passed)
            prev = times.get(m.group(3))
            v = float(m.group(4))
            times[m.group(3)] = v if prev is None else min(prev, v)
            cold[m.group(3)] = float(m.group(5) or m.group(4))
            continue
        m = pat_runone.match(line)
        if m:
            # min across sources if a query appears twice
            prev = times.get(m.group(1))
            v = float(m.group(2))
            times[m.group(1)] = v if prev is None else min(prev, v)

def ledger_line(data_dir):
    if not data_dir:
        return {}
    best = {}
    try:
        for raw in open(args.ledger):
            try:
                node = json.loads(raw)
            except ValueError:
                continue
            if node.get("dir") == data_dir:
                best = node.get("queries", {})  # latest line wins
    except OSError:
        pass
    return best

ref = ledger_line(args.ref_dir)
ref2 = ledger_line(args.ref_dir2)

done = len(times.keys() | failed)
total = sum(times.values())
ob = {k: v for k, v in times.items() if k in OUTPUT_BOUND}
print(f"completed {done}/{total_q if total_q is not None else done}"
      f"  timed-total {total:.3f} s "
      f"({total/60:.1f} min)"
      f"  cold-total {sum(v for k, v in cold.items() if k in times):.3f} s")
print(f"failed {len(failed)}: {', '.join(sorted(failed)) or '-'}")
print(f"output-bound lanes present: {len(ob)}  sum {sum(ob.values()):.1f} s")
print(f"total minus output-bound:   {total - sum(ob.values()):.1f} s")
hdr = f"{'query':42s} {'sec':>9s}"
if ref2:
    hdr += f" {'sf0.1':>8s}"
if ref:
    hdr += f" {'10x':>8s} {'grow':>6s}"
print("\n" + hdr)
for k, v in sorted(times.items(), key=lambda kv: -kv[1])[:args.top]:
    row = f"{k:42s} {v:9.2f}"
    if ref2:
        row += f" {ref2.get(k, float('nan')):8.2f}"
    if ref:
        r = ref.get(k)
        row += f" {r if r is not None else float('nan'):8.2f}"
        row += f" {v/r:6.1f}x" if r else "      -"
    print(row)
if done < (total_q or done):
    missing_note = (total_q or 0) - done
    print(f"\nINCOMPLETE: {missing_note} queries not reached", file=sys.stderr)
