#!/usr/bin/env python3
"""Closed-loop CLI-job benchmark of graft.

    python3 perfbench/run.py --workload keyed_upsert|corpus_curate \
        --seed N --seconds S --trace 0|1 [--mix K=V,...]

Builds the program from source on first use (perfbench/build.py), then
runs one JVM that issues the workload's jobs through `graft.cli.Main`.
`--trace 0` prints the end-to-end metrics; `--trace 1` attaches the
benchmark's listeners and prints the per-layer metrics. The last line
of standard output is the result object; the line before it
(`diag: {...}`) carries diagnostics such as the host steal and process
CPU seconds of the timed window. `--mix` overrides the illustrative
input shares, for checking how the layer split depends on them. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("keyed_upsert", "corpus_curate")
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [  # the JDK 17 opens build.sbt passes to forked Spark JVMs
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--mix", default="")
    a = ap.parse_args()

    cp = build.ensure()

    tag = f"{a.workload}-{a.seed}-{'t' if a.trace else 'p'}-{os.getpid()}"
    run_dir = os.path.join(build.OUT, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    work, tmp, local = (os.path.join(run_dir, d) for d in ("work", "tmp", "local"))
    for d in (work, tmp, local):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(build.OUT, "runs", tag + ".log")

    # Half the visible CPUs run tasks, so the driver thread, the JIT and
    # GC never queue behind task threads: on a 4-vCPU host the curation
    # jobs took as long with 2 task slots as with 4, with a smaller
    # run-to-run spread.
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT__")}
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_LOCAL_DIRS": local,
        "TZ": "UTC",
    })
    env.pop("SPARK_CONF_DIR", None)
    trace_conf = [
        "-Dspark.extraListeners=perfbench.TraceListener",
        "-Dspark.sql.queryExecutionListeners=perfbench.TraceQeListener",
    ] if a.trace else []
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + trace_conf
           + ["-cp", cp, "perfbench.CliBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out]
           + (["--mix", a.mix] if a.mix else []))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        sys.stderr.write(f"run failed: JVM exit code {rc}; log {log_path}\n")
        sys.exit(1)
    if result["failed"] == 0:
        os.remove(log_path)
    print("diag: " + json.dumps(result.pop("diag")))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
