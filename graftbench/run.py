"""Run one benchmark workload and print its result.

    python3 graftbench/run.py --workload dedup_pipeline --seed 1 --seconds 20 --trace 0

Builds the engine if needed (see build.py), starts one JVM that generates
the inputs from the seed, warms up, sets up and runs the closed-loop
client for the number of whole statement cycles the seconds fix, then
prints two JSON lines on stdout: the full report (every metric by name
and unit, drift diagnostics, per-kind statement medians) and, last, the
result with the metrics BENCHMARK.json
lists (``end_to_end`` for ``--trace 0``, ``per_layer`` for ``--trace 1``).
A traced run also leaves its span file in ``.bench_out/``. Exits non-zero
without a result if the build, the run or the report fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("dedup_pipeline", "lakehouse_cdc")
HEAP = "3g"
DEADLINE_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    jar, jars = build.build()
    started = time.monotonic()  # the deadline covers the run, not the build

    work = ROOT / ".bench_work" / ("%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    report_path = work / "report.json"
    # class-data sharing: the first run after a build archives the
    # classes it loaded, and later runs of every workload map them instead
    # of loading and verifying them again (a few seconds of start-up)
    jsa = jar.parent / "graftbench.jsa"
    cds = ("-XX:SharedArchiveFile=" if jsa.is_file() else "-XX:ArchiveClassesAtExit=") + str(jsa)
    cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:-UsePerfData",
            "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + str(work / "tmp"),
            "-Dspark.local.dir=" + str(work / "tmp"),
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + str(BENCH / "log4j2.properties")]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in JDK_OPENS]
           + ["-cp", "%s:%s" % (jar, jars / "*"), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work / "data"), "--out", str(report_path)])
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("graftbench: run exceeded its deadline")
        if code != 0:
            sys.exit("graftbench: JVM exited with %d" % code)
        report = json.loads(report_path.read_text())
        if a.trace:
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            shutil.copy(str(report_path) + ".spans.jsonl",
                        out / ("%s.spans.jsonl" % a.workload))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    have = report["per_layer" if a.trace else "metrics"]
    wrong = [m["name"] for m in wanted
             if m["name"] not in have or have[m["name"]]["unit"] != m["unit"]]
    if wrong:
        sys.exit("graftbench: report lacks %s (or gives another unit)" % ", ".join(wrong))
    print(json.dumps(report))
    print(json.dumps({
        "correct": bool(report["correct"]),
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": {m["name"]: have[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
