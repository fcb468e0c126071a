#!/usr/bin/env python3
"""CDC pipeline benchmark: builds the engine together with the benchmark
program, then runs one workload in a fresh JVM and relays its output.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the repository root. The last stdout line of a single-workload run
is the result JSON; `--trace 1` reports per-layer metrics instead of the
end-to-end ones and writes spans to `.bench_out/`. `--workload all` runs
trickle, bulk and serve one after another.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["trickle", "bulk", "serve"]
# one run must finish inside 180 s; the JVM is stopped well before that
RUN_TIMEOUT_S = 170
HEAP = "2g"
# class-data-sharing archive: the first run after a build records the
# classes it loads, later runs map them (JVM + Spark start-up ~3 s, not ~8)
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
# the module options spark-submit would pass on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the stamp matches; returns the classpath."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    fp = source_fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            old_fp, cp = f.read().split("\n", 1)
        if old_fp == fp:
            return cp.strip()
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch"] + sbt_opts +
                       ["compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("[perfbench] build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_one(root, cp, workload, seed, seconds, trace):
    work = os.path.join(root, ".bench_work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        cds, new_archive = [f"-XX:SharedArchiveFile={ARCHIVE}"], None
    else:
        new_archive = f"{ARCHIVE}.{os.getpid()}.tmp"
        cds = [f"-XX:ArchiveClassesAtExit={new_archive}"]
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Xlog:cds=off"] + cds +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [a for m in ADD_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--out", os.path.join(root, ".bench_out")])
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def stop():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(RUN_TIMEOUT_S, stop)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if new_archive and os.path.exists(new_archive):
        if proc.returncode == 0 and not timed_out.is_set():
            os.replace(new_archive, ARCHIVE)
        else:
            os.remove(new_archive)
    if timed_out.is_set():
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM unwind through run_one's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no engine sources under src/main/scala/graft "
                         "— run from the repository root")
    cp = build(root)
    codes = [run_one(root, cp, w, a.seed, a.seconds, a.trace)
             for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    sys.exit(max(codes))


if __name__ == "__main__":
    main()
