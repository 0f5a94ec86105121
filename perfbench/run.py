#!/usr/bin/env python3
"""Broker benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the product and the
benchmark with sbt (perfbench/build.sbt) and caches the JVM launch line
under .bench_build/; later runs start the JVM directly, so no sbt output
reaches stdout. Prints the workload's named figures, then one JSON line:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("live_publish", "resend_mix")
JVM_HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint() -> str:
    h = hashlib.sha1()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", BENCH / "project", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for f in files:
        st = f.stat()
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def launch_line() -> list:
    """Classpath and JVM options, building first when sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no product sources next to the benchmark (build.sbt, src/main/scala)")
    BUILD.mkdir(exist_ok=True)
    fp, stamp, launch = sources_fingerprint(), BUILD / "fingerprint", BUILD / "launch.txt"
    if not (launch.is_file() and stamp.is_file() and stamp.read_text() == fp):
        log = BUILD / "build.log"
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     "launchFile"],
                    cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                    timeout=BUILD_TIMEOUT_S).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                die(f"build failed: {e}")
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"build failed (sbt exit {rc}); see {log}")
        shutil.copy(BENCH / "target" / "launch.txt", launch)
        stamp.write_text(fp)
    lines = launch.read_text().splitlines()
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    return opts + [JVM_HEAP, "-cp", lines[0]]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    jvm = launch_line()

    run_dir = BUILD / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    cmd = ["java", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + jvm + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--dir", str(run_dir), "--out", str(out)]
    log = run_dir / "jvm.log"
    try:
        with open(log, "w") as f:
            proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, cwd=ROOT)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not out.is_file():
            sys.stderr.write(log.read_text()[-6000:])
            die(f"workload {a.workload} failed ({rc})")
        res = json.loads(out.read_text())

        if a.trace:
            keep = BUILD / "traces"
            keep.mkdir(exist_ok=True)
            shutil.copy(run_dir / "trace.jsonl", keep / f"{a.workload}-{a.seed}.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    declared = {m["name"]: m["unit"] for m in wanted}
    extra = sorted(set(metrics) - set(declared))
    if extra:
        die(f"metrics not declared in BENCHMARK.json: {extra}")
    if a.trace:
        # a layer this workload does not run did no work: its figures read 0
        for name, unit in declared.items():
            metrics.setdefault(name, {"value": 0, "unit": unit})
    missing = sorted(set(declared) - set(metrics))
    if missing:
        die(f"workload did not measure {missing}")
    metrics = {n: metrics[n] for n in declared}

    print(f"workload {a.workload}, seed {a.seed}, {a.seconds} s, trace {a.trace}")
    for name, m in res["report"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        untraced = BUILD / f"untraced-{a.workload}.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())
            for name, m in base.items():
                traced = metrics.get(f"traced.{name}", {}).get("value")
                if traced and m["value"]:
                    print(f"  tracing overhead {name} = {traced / m['value'] - 1:+.1%}")
    else:
        (BUILD / f"untraced-{a.workload}.json").write_text(json.dumps(metrics))
    for line in res["notes"] + res["problems"]:
        print(f"  ! {line}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
