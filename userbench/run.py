"""Run one benchmark workload and print its metrics.

    python3 userbench/run.py --workload odm_publish --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark if their sources changed, then runs
the measured JVM (fixed heap, its own Spark local dirs) on a fresh state
root made from the seed. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}, where metrics are the
end-to-end metrics with --trace 0 and the per-layer metrics with
--trace 1. The line before it names every metric the workload measured,
including the workload's own named metrics. The full result, with
sample counts, spans and environment, is kept under
.bench_build/userbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("odm_publish", "qc_edit", "corpus_ingest")
HEAP = "3g"
JVM_TIMEOUT_S = 170  # after any build; a run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    os.makedirs(build.OUT, exist_ok=True)
    jar, stamp = build.build()
    jars = build.spark_jars()
    run = fresh(os.path.join(build.OUT, "run"))
    local = fresh(os.path.join(build.OUT, "spark-local"))
    tmp = fresh(os.path.join(build.OUT, "tmp"))
    logs = os.path.join(build.OUT, "logs")
    results = os.path.join(build.OUT, "results")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(run, "result.json")

    # class-data sharing: the first run of a workload after a build
    # records the classes it loads, later runs map them instead of
    # loading them (JVM start and first use; no effect on compiled code)
    cds = os.path.join(build.OUT, f"cds-{a.workload}-{stamp}.jsa")
    for old in os.listdir(build.OUT):
        if old.startswith(f"cds-{a.workload}-") and old != os.path.basename(cds):
            os.remove(os.path.join(build.OUT, old))
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}.tmp")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", cds_flag,
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(run, 'derby.log')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"),
            "graft.bench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out,
            "--root", os.path.join(run, "state"),
            "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"run: the benchmark JVM ended with {code}", file=sys.stderr)
        return 1

    if os.path.exists(cds + ".tmp"):  # published only from a clean exit
        os.replace(cds + ".tmp", cds)
    with open(out) as fh:
        res = json.load(fh)
    shutil.copy(out, os.path.join(results, tag + ".json"))
    for d in (run, local, tmp):
        shutil.rmtree(d, ignore_errors=True)

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "named": res["named"], "info": res["info"],
                      "env": res["env"], "failures": res["failures"][:20]}))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
