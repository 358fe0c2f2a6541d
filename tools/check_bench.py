#!/usr/bin/env python3
"""Checks a graft.Bench artifact (bench.json) against its bars.

Usage: python3 tools/check_bench.py [bench.json]

Bars: the x10 Q1 under 2x the reference's sf1 Q1 (BASELINE.md), bench_cpus
stamped as an int, every headline entry present with the fixed rep count
(Bench.Rounds) and a full summary, and the heavy x10 tier's medians at or
under their bars. A failing bar is printed as FAIL and the exit code is 1.
"""
import json
import sys

ROUNDS = 7  # graft.Bench.Rounds
HEADLINE = ["q00_floor", "q06_q1_flagship", "q06_x10_6Mrows",
            "q29_x10_50kdocs", "q112_x10_50kdocs", "q51_x10_50kdocs",
            "q152_x10_50kdocs", "q143_x10_50kdocs"]
# heavy-tier median bars (seconds), set on an 8-core run of a 32-core box
TIER = {"q29_x10_50kdocs": 3.6, "q112_x10_50kdocs": 2.8,
        "q51_x10_50kdocs": 3.2, "q152_x10_50kdocs": 3.2,
        "q143_x10_50kdocs": 2.8}

b = json.load(open(sys.argv[1] if len(sys.argv) > 1 else "bench.json"))
entries, h, env = b.get("entries", {}), b.get("headline", {}), b.get("env", {})
fails = []


def check(name, ok, detail):
    print(("PASS " if ok else "FAIL ") + name + ": " + detail)
    if not ok:
        fails.append(name)


ratio = h.get("x10_vs_baseline_sf1")
check("gate<2x", ratio is not None and ratio < 2.0,
      f'{ratio} (q06_x10_6Mrows {h.get("q06_x10_6Mrows")}s / 0.707s)')
check("env.bench_cpus is an int", type(env.get("bench_cpus")) is int,
      str(env.get("bench_cpus")))

summary = ("median", "min", "max", "q1", "q3")
bad = [n for n in HEADLINE
       if n not in entries or len(entries[n].get("reps", [])) != ROUNDS
       or any(entries[n].get(k) is None for k in summary)]
check(f"every headline entry present with {ROUNDS} reps and a summary",
      not bad, f"missing or short: {bad}" if bad else
      f"{len(HEADLINE)} entries")

med = {n: entries.get(n, {}).get("median") for n in TIER}
over = [n for n, bar in TIER.items() if med[n] is None or med[n] > bar]
check("x10 heavy tier at/below its bars", not over,
      ", ".join(f"{n}={med[n]} (bar {TIER[n]})" for n in TIER))

print(f"\nsteal over the run: {env.get('steal_ms')} ms; cores "
      f"{env.get('cores')}, bench_cpus {env.get('bench_cpus')}")
print("\n" + ("ALL CHECKS PASS" if not fails else f"FAILURES: {fails}"))
sys.exit(0 if not fails else 1)
