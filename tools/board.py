#!/usr/bin/env python3
"""Render the SURVEY §8 board line from a bench artifact (VERDICT r10
What's-wrong #3: the survey's prose number drifted from the refreshed
bench_out.json once; single-sourcing the line from the artifact makes
that class of drift impossible).

Usage: python3 tools/board.py [bench_out.json [prev_bench.json]]

Prints the round board line (query count, warm/cold totals, grouper
rates, host unit) and — when a previous artifact is given — the
median per-query ratio plus the biggest wins/regressions, i.e. the
exact numbers SURVEY's round notes and VERDICT's perf section quote.
"""
import json
import os
import statistics
import sys


def load(p):
    d = json.load(open(p))
    # BENCH_r{N}.json is the driver's wrapper around the bench line; the
    # line itself sits in "parsed" (when the driver parsed it) or as the
    # last JSON object embedded in the captured "tail" string
    if "queries" not in d:
        if isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        elif isinstance(d.get("tail"), str):
            t = d["tail"]
            i = t.find('{"metric"')
            if i < 0:
                raise ValueError(f"{p}: no bench line in tail")
            dec = json.JSONDecoder()
            d, _ = dec.raw_decode(t[i:])
    # the compact headline carries no per-query times, only a pointer to
    # the file that does; follow it only when that file is from the same
    # run (same suite total), since later runs overwrite it
    if "queries" not in d and "queries_file" in d:
        qf = os.path.join(os.path.dirname(p), d["queries_file"])
        full = json.load(open(qf)) if os.path.exists(qf) else {}
        if "queries" in full and full.get("value") == d.get("value"):
            d = {**d, "queries": full["queries"]}
    return d


def main():
    cur = load(sys.argv[1] if len(sys.argv) > 1 else "bench_out.json")
    queries = cur.get("queries")
    n = len(queries) if queries is not None else cur.get("n_queries", "?")
    line = (f"{n} queries, {cur['value']:.1f} s warm / "
            f"{cur.get('cold_total', float('nan')):.1f} s cold (per-query "
            f"min of cold+warm), grouper lane "
            f"{cur.get('grouper_items_per_sec', 0) / 1000:.1f}k items/s")
    if "grouper_probe_best_of_10" in cur:
        line += (f" (isolated probe best-of-10 "
                 f"{cur['grouper_probe_best_of_10'] / 1000:.1f}k, host unit "
                 f"{cur['host_single_core_unit_ms']:.0f} ms)")
    line += f", sf={cur.get('sf', '?')}"
    if queries is None:
        print(line)
        print(f"no per-query times: queries_file "
              f"{cur.get('queries_file', '(none)')} is missing or from "
              f"another run; suite-level numbers only")
        return
    q = {k: v for k, v in queries.items() if v >= 0}
    fails = [k for k, v in queries.items() if v < 0]
    if fails:
        line += f", FAILED: {','.join(sorted(fails))}"
    print(line)
    if len(sys.argv) > 2:
        prev_full = load(sys.argv[2])
        prev = prev_full.get("queries")
        if prev is None:
            print(f"vs prev: {sys.argv[2]} has no per-query times")
            return
        common = {k: (prev[k], q[k]) for k in q if k in prev and prev[k] > 0}
        ratios = {k: b / a for k, (a, b) in common.items()}
        med = statistics.median(ratios.values())
        print(f"vs prev: {len(common)} common queries, "
              f"median per-query ratio {med:.2f}")
        # host-speed attribution (VERDICT r11 task #8): when both artifacts
        # carry the fixed single-core workload unit, the unit ratio IS the
        # host-speed ratio, so dividing it out of the per-query ratios
        # separates host drift from plan drift mechanically
        if ("host_single_core_unit_ms" in cur
                and "host_single_core_unit_ms" in prev_full):
            hr = (cur["host_single_core_unit_ms"]
                  / prev_full["host_single_core_unit_ms"])
            print(f"host unit ratio (now/prev): {hr:.3f}; host-normalized "
                  f"median per-query ratio {med / hr:.2f}")
        moved = sorted(common.items(), key=lambda kv: kv[1][1] - kv[1][0])
        print("biggest wins:")
        for k, (a, b) in moved[:5]:
            print(f"  {k} {a:.2f} -> {b:.2f} s ({b / a:.2f}x)")
        print("biggest regressions (>1.3x and >0.5 s):")
        regs = [(k, a, b) for k, (a, b) in moved[::-1]
                if b / a > 1.3 and b - a > 0.5]
        for k, a, b in regs[:8]:
            print(f"  {k} {a:.2f} -> {b:.2f} s ({b / a:.2f}x)")
        if not regs:
            print("  (none)")


if __name__ == "__main__":
    main()
