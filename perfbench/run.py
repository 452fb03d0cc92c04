#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the checkout root. The first run builds the program and the
harness from source (sbt, offline) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are unchanged.
The last line of standard output is the result object. Run records go to
<build>/runs/, the traced run's span sidecar beside them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# kg_mixed is not in BENCHMARK.json: a program race fails one read in
# about one run in twenty (METRICS.md), so two sets of runs cannot agree
WORKLOADS = ("build", "kg_read", "kg_mixed", "ner_serve")
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HERE) for f in ("build.sbt", "project/build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(bdir):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Xmx2g",
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false",
        "-Dsbt.global.base=" + os.path.join(bdir, "sbt-global"),
        "-Dsbt.boot.directory=" + os.path.join(bdir, "sbt-boot"),
        "-Dsbt.ivy.home=" + os.path.join(bdir, "ivy2"),
        "-Djava.io.tmpdir=" + os.path.join(bdir, "tmp"),
    ])
    return env


def ensure_built(bdir):
    """Compile the program and the harness; return the runtime classpath."""
    st = stamp()
    cp_file = os.path.join(bdir, f"classpath-{st}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), st
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(bdir), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "classes" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cps[-1].strip(), st


def jvm_flags(tmp):
    # the program's own JVM options (build.sbt javaOptions): the JDK 17
    # module opens Spark needs, the throughput collector, UTC, no UI
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = []
    for o in opens:
        flags += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "3g"), "-XX:+UseParallelGC",
                    "-Djava.io.tmpdir=" + tmp]


def cpu_times():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources under src/main/scala/graft: run from the checkout root")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("no BENCHMARK.json in the current directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp, st = ensure_built(bdir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(bdir, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sidecar = os.path.join(bdir, "runs", tag + (".trace.json" if a.trace else ".json"))
    flags = jvm_flags(tmp)
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Main",
                              "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, "--state", os.path.join(bdir, "state", st),
                              "--sidecar", sidecar]
    steal0, total0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload {a.workload} did not finish in {RUN_TIMEOUT_S}s", 1)
    steal1, total1 = cpu_times()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        die(f"workload {a.workload} exited with {proc.returncode}", 1)
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        die(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json {sorted(want)}", 1)

    record = {"host": {"nproc": os.cpu_count(),
                       "steal_share": (steal1 - steal0) / max(1, total1 - total0),
                       "jvm_flags": flags, "git_commit": git_commit(), "source_stamp": st},
              "result": result}
    with open(sidecar + ".host.json", "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
