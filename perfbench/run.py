#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness (perfbench/build.sbt,
which compiles the graft project of the parent directory) on first use,
runs the workload on local[nproc] in a fresh JVM, checks its outputs and
prints the run's metrics as one JSON object on the last line of standard
output. The lines before it name every metric of the workload with its
unit. Build files, logs, the last run record of each workload and the
runs' scratch data go to .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("pyramid_build", "spatial_queries", "tile_refresh")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run cmd in its own process group, output to log_path; kill the group
    on timeout or interrupt and always wait for it. Returns (code, stdout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=log, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.decode("utf-8", "replace")


def source_stamp(root):
    """Digest of every build input: the graft sources and build, and the
    harness sources and build."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
              os.path.join(root, "project"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile graft + the harness with sbt (offline) once per source state;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft sources next to the benchmark (run from a checkout root)")
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            built, cp = f.read(), g.read().strip()
        if built == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts.strip()
    code, out = run_proc(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        HERE, env, BUILD_TIMEOUT_S, os.path.join(out_dir, "build.log"))
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail("build failed, see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    # a terminated benchmark still stops and waits for its JVM (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="merge this run's output checks into golden.json")
    a = ap.parse_args()

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)

    work = os.path.join(out_dir, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work])
    log = os.path.join(out_dir, "run-%s.log" % a.workload)
    try:
        code, out = run_proc(cmd, root, dict(os.environ), RUN_TIMEOUT_S, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recs = [l[len("PERFBENCH_RECORD "):] for l in out.splitlines()
            if l.startswith("PERFBENCH_RECORD ")]
    if code != 0 or not recs:
        fail("harness failed (exit %d), see %s" % (code, os.path.relpath(log, root)))
    with open(os.path.join(out_dir, "record-%s.json" % a.workload), "w") as f:
        f.write(recs[-1])
    record = json.loads(recs[-1])

    golden_path = os.path.join(HERE, "golden.json")
    result = metrics.result(record, metrics.load_golden(golden_path), trace=bool(a.trace))
    for line in metrics.report_lines(record, result):
        print(line)
    if a.record:
        if not result["contract"]["correct"]:
            fail("not recording the checks of an incorrect run")
        metrics.record_golden(golden_path, record)
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    main()
