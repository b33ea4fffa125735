#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

The script compiles the library sources (src/main/scala) together with the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark jar directory, caches the classes under the build directory keyed by a
hash of every source, then runs one workload in a single JVM. The JVM prints
one JSON result object as the last line of its standard output; this script
checks its shape and prints it again as the last line.

Everything the run writes (classes, generated inputs, Spark scratch space,
traces, result files) goes under the build directory: $CARGO_TARGET_DIR when
set, else .bench_build, relative to the checkout root.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

WORKLOADS = ("bulk_build", "stream_ingest")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# One run must end within 180 s; the build of a fresh checkout is allowed
# on top of that.
RUN_DEADLINE_S = 172
HEAP = "3g"

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = pathlib.Path(home) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jar directory at {jars}")
    return jars


def scala_jar(jars, stem):
    found = sorted(jars.glob(f"{stem}-2.13.*.jar"))
    if not found:
        fail(f"no {stem} 2.13 jar in {jars}")
    return found[-1]


def source_files(root, bench):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        fail("no src/main/scala under the working directory; run from the root of a checkout")
    files = sorted(main.rglob("*.scala")) + sorted((bench / "src").rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build(root, bench, build_dir, jars):
    """Compile library + harness once per distinct source tree."""
    files = source_files(root, bench)
    build_dir.mkdir(parents=True, exist_ok=True)
    compiler = scala_jar(jars, "scala-compiler")
    h = hashlib.sha256(compiler.name.encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    classes = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    tmp = build_dir / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compile_cp = os.pathsep.join(str(scala_jar(jars, s)) for s in
                                 ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compile_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink(missing_ok=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation failed (exit {proc.returncode})")
    (tmp / ".complete").write_text(f"{time.time() - t0:.1f}\n")
    try:
        tmp.rename(classes)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: compiled {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = pathlib.Path.cwd()
    bench = pathlib.Path(__file__).resolve().parent
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    jars = spark_jars()
    classes = build(root, bench, build_dir, jars)

    tmp_dir = build_dir / "tmp"
    tmp_dir.mkdir(exist_ok=True)
    resources = root / "src" / "main" / "resources"
    cp = os.pathsep.join([str(classes), str(resources), str(jars / "*")])
    opens = [a for p in JDK17_ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m"] + opens + [
        f"-Djava.io.tmpdir={tmp_dir}",
        f"-Dlog4j2.configurationFile={bench / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--build-dir", str(build_dir), "--heap", HEAP,
    ])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # the harness sets spark.local.dir itself
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              env=env, timeout=RUN_DEADLINE_S, text=True)
    except subprocess.TimeoutExpired as e:
        if e.stdout:
            sys.stdout.write(e.stdout if isinstance(e.stdout, str) else e.stdout.decode())
        fail(f"workload did not finish within {RUN_DEADLINE_S} s", code=3)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    body = lines[:-1] if result is not None else lines
    for l in body:
        print(l)
    if proc.returncode != 0:
        fail(f"workload JVM exited with {proc.returncode}", code=proc.returncode or 1)
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        fail("workload printed no result line", code=4)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
