#!/usr/bin/env python3
"""Regenerate the "Current pins" table at the top of BASELINE.md from the
committed closing evidence sweep (bench_last.json).

The table is the INTERFACE; the per-round sections below it remain the
audit trail (VERDICT r12 #6). Run after the round's closing evidence
sweep, before committing the artifacts:

    python3 tools/pins_table.py [bench_last.json] [BASELINE.md]

Rewrites everything between the PINS-TABLE markers in place.
"""
import json
import sys

BEGIN = "<!-- PINS-TABLE BEGIN (generated by tools/pins_table.py) -->"
END = "<!-- PINS-TABLE END -->"


def fmt(x):
    return "null" if x is None else f"{x:.2f}"


def main(bench_path, baseline_path):
    d = json.load(open(bench_path))
    qs = d["queries"]
    qmin = d.get("queries_min", {})
    qmax = d.get("queries_max", {})
    sweep = (f"{len(qs)} queries, {d['value']:.1f} s total, "
             f"runs {d.get('runs')}, warmup {d.get('warmup_passes')}, "
             f"evidence {d.get('evidence')}, "
             f"contention {d.get('contention_factor')}, "
             f"sched {d.get('sched_factor')}")
    lines = [BEGIN, "",
             "## Current pins (regenerated each round — the reading "
             "interface; history below is the audit trail)", "",
             f"Pinning sweep: **{sweep}** (`bench_last.json` at this "
             "commit). Medians are the pins; [min–max] is the same "
             "sweep's observed per-query spread — call a later reading "
             "drift only when its MEDIAN falls outside this spread "
             "(and see the adjudication sections below for the loop "
             "queries' wider documented bands).", "",
             "| query | pin (median s) | [min–max] |",
             "|---|---|---|"]
    for q in sorted(qs):
        lines.append(
            f"| {q} | {qs[q]:.3f} | [{fmt(qmin.get(q))}–{fmt(qmax.get(q))}] |")
    lines += ["", END]
    block = "\n".join(lines)

    text = open(baseline_path).read()
    if BEGIN in text:
        pre = text[:text.index(BEGIN)]
        post = text[text.index(END) + len(END):]
        text = pre + block + post
    else:
        # first insertion: right after the H1 paragraph block
        anchor = "## Facts from the reference"
        i = text.index(anchor)
        text = text[:i] + block + "\n\n" + text[i:]
    open(baseline_path, "w").write(text)
    print(f"pins table: {len(qs)} queries from {bench_path}")


if __name__ == "__main__":
    bench = sys.argv[1] if len(sys.argv) > 1 else "bench_last.json"
    baseline = sys.argv[2] if len(sys.argv) > 2 else "BASELINE.md"
    main(bench, baseline)
