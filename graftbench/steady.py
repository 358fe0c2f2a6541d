"""Steadiness check: run two sets of the same code interleaved and compare.

    python3 graftbench/steady.py --runs 10 --seed0 401

Two sets, A and B, of the same code, over every workload in
BENCHMARK.json. Run i of each set uses seed ``--seed0 + i`` and
``run_seconds`` from BENCHMARK.json; the runs go A, B, A, B, ... (each
pair over all workloads) so that drift of the machine over minutes lands
on both sets alike instead of on one block. For every workload and
end-to-end metric it prints each set's median and quartiles, the spread
(interquartile range over median, as ``statistics.quantiles(n=4)`` gives
the quartiles), and whether the sets agree: every spread within the
metric's bound, and the two medians apart by no more than the bound
(relative to set A's). ``box.calib_*`` (a fixed pure-JVM loop) is printed
per run as the drift diagnostic; it never adjusts a metric. The raw runs
are written to ``.bench_out/steady.json``.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "ok": False, "wall_s": wall}
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "ok": True, "wall_s": wall,
            "correct": result["correct"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "calib": (report["diagnostics"]["box.calib_start_s"],
                      report["diagnostics"]["box.calib_end_s"]),
            "steal_ms": report["diagnostics"]["box.steal_ms"],
            "report": report}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    sets = "AB"
    workloads = [w["name"] for w in spec["workloads"]]
    runs = {s: {w: [] for w in workloads} for s in sets}
    for i in range(a.runs):
        for s in sets:
            for w in workloads:
                r = run_once(w, a.seed0 + i, spec["run_seconds"])
                runs[s][w].append(r)
                print("%s run %d %-15s seed %d wall %.0fs ok=%s correct=%s calib=%s steal_ms=%s"
                      % (s, i, w, r["seed"], r["wall_s"], r["ok"], r.get("correct"),
                         r.get("calib"), r.get("steal_ms")), flush=True)
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    (out / "steady.json").write_text(json.dumps(runs, indent=1))

    agree = True
    for w in workloads:
        print("\n== %s" % w)
        for s in sets:
            bad = [r for r in runs[s][w] if not r["ok"] or not r["correct"]]
            if bad:
                agree = False
                print("  set %s: %d runs failed or incorrect" % (s, len(bad)))
            walls = [r["wall_s"] for r in runs[s][w]]
            print("  set %s: wall per run median %.0fs max %.0fs" % (s, statistics.median(walls), max(walls)))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = {}
            for s in sets:
                xs = [r["metrics"][name] for r in runs[s][w] if r["ok"]]
                if len(xs) < 2:
                    agree = False
                    continue
                q1, q2, q3 = quartiles(xs)
                spread = (q3 - q1) / q2
                meds[s] = q2
                ok = spread <= bound
                agree &= ok
                print("  %-28s %s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.3f (bound %.2f, third %.3f) %s"
                      % (name, s, q2, q1, q3, spread, bound, bound / 3,
                         "ok" if ok else "TOO NOISY"))
            if len(meds) == 2:
                gap = (meds["B"] - meds["A"]) / meds["A"]
                ok = abs(gap) <= bound
                agree &= ok
                print("  %-28s B vs A: %+.3f (bound %.2f) %s"
                      % (name, gap, bound, "agree" if ok else "DISAGREE"))
    print("\nsets agree within bounds: %s" % ("yes" if agree else "NO"))
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()
