"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <tick_live|dashboard_reads|curation_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source first (see build.py),
then runs one JVM (`perfbench.Main`) that sets up the workload three
times, measures for `--seconds` seconds and checks every output. The
last stdout line is one JSON object with exactly `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it is the run's
contention record (nproc, load average, run/CPU ratio, contended flag).
Run logs, records and trace spans stay under the build directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("tick_live", "dashboard_reads", "curation_batch")
# seconds the JVM may take; a run that does not build stays under 180 s
JVM_LIMIT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared(trace: bool):
    """Metric name -> unit, from BENCHMARK.json at the checkout root."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--corrupt", default="0", choices=("0", "1"),
                    help="perturb every checked output (for the benchmark's own tests)")
    ap.add_argument("--selftest", default="", choices=("", "layout"),
                    help="layout: compare the generated store with a stream-written one")
    a = ap.parse_args(argv)
    trace = a.trace == "1"
    want = declared(trace)
    classpath = build.build()

    bdir = build.build_dir()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    work = bdir / "work" / tag
    tmp = bdir / "tmp" / tag
    runs = bdir / "runs"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
    for d in (work, tmp, runs):
        d.mkdir(parents=True, exist_ok=True)
    out = runs / f"{tag}.json"
    log = runs / f"{tag}.log"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp / 'spark'}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           f"-Dderby.system.home={tmp}",
           f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--out", str(out), "--work", str(work), "--corrupt", a.corrupt,
           *(["--selftest", a.selftest] if a.selftest else [])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=str(build.ROOT),
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        sys.stderr.write(f"\nrun.py: JVM {'timed out' if code is None else f'exited {code}'}; log {log}\n")
        return 1
    res = json.loads(out.read_text())
    if a.selftest:
        print(json.dumps(res))
        return 0
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        sys.stderr.write(f"run.py: metrics {sorted(got.items())} != declared {sorted(want.items())}\n")
        return 1
    odd = [k for k, v in res["metrics"].items() if type(v["value"]) not in (int, float)]
    if odd:
        sys.stderr.write(f"run.py: metrics without a numeric value: {odd}\n")
        return 1
    print(json.dumps({"record": res["record"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
