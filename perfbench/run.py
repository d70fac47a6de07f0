#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload spatial --seed 1 --seconds 12 --trace 0

The first run builds the library and the benchmark from source with sbt
(perfbench/build.sbt) and stamps the build with a digest of the sources;
later runs reuse it. Each run gets a fresh temporary directory under
perfbench/tmp, which is removed when the run ends. A traced run
(--trace 1) also writes spans.jsonl and breakdown.tsv under
perfbench/out/<workload>-seed<seed>/.
"""
import argparse
import hashlib
import pathlib
import shutil
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORKLOADS = ("spatial", "pipeline")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Return the runtime classpath, compiling first if the sources changed."""
    classpath, stamp = TARGET / "classpath.txt", TARGET / "build.stamp"
    digest = source_digest()
    if classpath.exists() and stamp.exists() and stamp.read_text() == digest:
        return classpath.read_text()
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        done = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE,
                              stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if done.returncode != 0 or not classpath.exists():
        fail(f"build failed with exit code {done.returncode}", 3)
    stamp.write_text(digest)
    return classpath.read_text()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources next to {HERE.name}/: run from a checkout of the repository")

    classpath = build()
    (HERE / "tmp").mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=HERE / "tmp")
    cmd = ["java", *ADD_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", str(HERE / "data"), "--refs", str(HERE / "refs.tsv"),
           "--out", str(HERE / "out")]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.strip().splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    sys.stderr.write("".join(line + "\n" for line in (lines[:-1] if result else lines)))
    if result is None:
        fail(f"run printed no result (exit code {proc.returncode})", proc.returncode or 5)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
