#!/usr/bin/env python3
"""Run one geospark benchmark measurement from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark with sbt on first use (the build is
reused while the sources are unchanged), runs one measurement in a fresh
JVM, and prints as its last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Everything it writes goes
under `.bench_build/` in the checkout: the build log, each run's log, the
full result record (nproc, seed, commit, Spark config, JVM flags) and,
for traced runs, the spans.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

OUT = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("pipeline", "pip_join")
# sources whose change means a rebuild
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(src_digest):
    """Compile with sbt and export the classpath and JVM flags to launch.txt."""
    launch, stamp = os.path.join(OUT, "launch.txt"), os.path.join(OUT, "launch.digest")
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == src_digest:
        return launch
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"  # the build must never reach the network
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    tmp = os.path.abspath(os.path.join(OUT, "tmp"))  # sbt's load socket lands here
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    env["SPARK_DRIVER_MEM"] = "3g"  # the heap the library build gives forked JVMs
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                cwd="perfbench", env=env, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(stamp, "w") as f:
        f.write(src_digest)
    return launch


def git_commit():
    if not os.path.isdir(".git"):
        return "none"  # an exported checkout; source_sha256 identifies the build
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def cpu_ticks():
    """Aggregate /proc/stat CPU ticks (None where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def java_cmd(launch, args):
    with open(launch) as f:
        lines = f.read().splitlines()
    tmp = os.path.abspath(os.path.join(OUT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + lines[1:] + [f"-Djava.io.tmpdir={tmp}", "-cp", lines[0], "perfbench.Main"] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("BENCHMARK.json") and os.path.isfile("build.sbt")
            and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a geospark checkout (library sources not found)", 2)
    spec = json.load(open("BENCHMARK.json"))
    os.makedirs(OUT, exist_ok=True)
    src_digest = digest()
    launch = build(src_digest)

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    log_path = os.path.join(OUT, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = java_cmd(launch, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", os.path.abspath(OUT)])
    t0 = time.time()
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"stopped by signal {signum}", 128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log_path})", 4)
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_ERROR "):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"run failed with code {proc.returncode} (log: {log_path})", 5)

    # every metric printed is declared in BENCHMARK.json, with its unit
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    measured = result["metrics"]
    unknown = sorted(set(measured) - set(units))
    if unknown:
        fail(f"undeclared metrics {unknown}", 6)
    missing = sorted(set(units) - set(measured))
    if missing and not a.trace:
        fail(f"end-to-end metrics not measured: {missing}", 6)
    if missing:
        # per-layer metrics of layers this workload does not exercise
        print(f"# not measured on {a.workload} (reported as 0): {', '.join(missing)}")

    ticks1 = cpu_ticks()
    # share of the machine's CPU time stolen by other guests while this run ran
    steal = None
    if ticks0 and ticks1 and len(ticks0) > 7:
        d = [y - x for x, y in zip(ticks0, ticks1)]
        steal = round(d[7] / max(1, sum(d)), 4)
    record = dict(result, workload=a.workload, trace=a.trace, git_commit=git_commit(),
                  source_sha256=src_digest, run_wall_s=round(time.time() - t0, 3), steal_frac=steal)
    rec_path = os.path.join(OUT, "results", tag + ".json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"# nproc={result['nproc']} seed={a.seed} commit={record['git_commit']} "
          f"ops={result['ops']} items_per_op={result['items_per_op']} record={rec_path}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]}
                    for m in declared},
    }))


if __name__ == "__main__":
    main()
