#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest-delta --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles graft's main sources together with the
harness under perfbench/src (sbt, offline). Later runs reuse that build as
long as no source file changed. The harness itself is graftbench.Main; see
perfbench/README.md for the workloads, metrics and checks.
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest-delta", "contract")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(bdir, stamp):
    """Compile with sbt (offline) and return the runtime classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.target={os.path.join(bdir, 'perfbench')}",
           "export Runtime/fullClasspath"]
    log("building harness + graft sources (sbt, offline)")
    t0 = time.time()
    rc, out = run_group(cmd, HERE, env, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = out.decode("utf-8", "replace").splitlines()
    cps = [l.strip() for l in lines if l.strip().startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(l for l in lines[-40:] if not l.startswith("/")) + "\n")
        raise SystemExit(f"[perfbench] build failed (rc={rc})")
    log(f"build done in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def check_data(data):
    """The contract tables must be the committed bytes (SHA256SUMS next to them)."""
    with open(os.path.join(data, "SHA256SUMS")) as f:
        sums = [l.split() for l in f if l.strip()]
    for digest, name in sums:
        with open(os.path.join(data, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit(f"[perfbench] {name} in {data} differs from SHA256SUMS")


def git_commit():
    """The checked-out commit, or "none" outside a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def merge_hashes(expected, pinned):
    """Replace the pinned keys of this run in expected_hashes.tsv."""
    def read(p):
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return dict(l.rstrip("\n").split("\t", 1) for l in f if l.strip() and not l.startswith("#"))
    merged = read(expected)
    merged.update(read(pinned))
    with open(expected, "w") as f:
        f.write("# key\tcontent hash (rows-sumA-sumB-schema); regenerate with run.py --pin\n")
        for k in sorted(merged):
            f.write(f"{k}\t{merged[k]}\n")


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record the content hashes of this run's queries into "
                         "expected_hashes.tsv instead of checking them")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] graft sources not found next to perfbench/; "
                         "run from the root of a graft checkout")

    data = os.path.join(HERE, "data", "sf0.01")
    check_data(data)
    bdir = build_dir()
    stamp = source_stamp()
    classpath = build(bdir, stamp)

    work = os.path.join(bdir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(bdir, "records")
    os.makedirs(records, exist_ok=True)
    result = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected_hashes.tsv")
    pinned = os.path.join(work, "pinned.tsv")
    nproc = os.cpu_count() or 1
    heap = f"{heap_gb()}g"
    # A fixed heap and young generation keep the resident set (peak_rss_mb)
    # from depending on when the collector chooses to grow the heap.
    java = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graftbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--out", result, "--records", records,
             "--data", data,
             "--tiers", os.path.join(HERE, "contract_tiers.tsv"),
             "--hashes", pinned if args.pin else expected,
             "--pin", "1" if args.pin else "0",
             "--commit", git_commit(),
             "--source-stamp", stamp]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), TMPDIR=os.path.join(work, "tmp"))
    try:
        # The harness logs to stderr; its stdout is forwarded there too so
        # that the result line below stays the last line of our stdout.
        rc, _ = run_group(java, ROOT, env, RUN_TIMEOUT_S, sys.stderr)
        if rc != 0 or not os.path.exists(result):
            raise SystemExit(f"[perfbench] harness failed (rc={rc})")
        with open(result) as f:
            line = json.dumps(json.load(f), separators=(",", ":"))
        if args.pin:
            merge_hashes(expected, pinned)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] harness exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
