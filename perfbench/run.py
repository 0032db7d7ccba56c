#!/usr/bin/env python3
"""Build the graft benchmark from this checkout's sources and run one workload.

    python3 perfbench/run.py --workload <medallion_etl|lake_query|train_curate>
        --seed <n> --seconds <s> --trace <0|1> [--size tiny]

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. The first run in a checkout compiles the sources
with sbt into perfbench/target; later runs reuse the classes while the
sources hash the same. Everything a run writes stays under
.bench_build/ in the checkout: a run's work directory is deleted when it
ends, and a traced run's spans are kept in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark install the program builds and runs against: SPARK_HOME,
    else the one whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        fail("set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def source_hash():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (SOURCES, BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = BUILD / "build.stamp"
    want = source_hash()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return
    env = dict(os.environ)
    env["SPARK_HOME"] = str(spark_home())
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                       " -Dsbt.server.autostart=false -Xmx2g")
    print("[perfbench] compiling graft and the benchmark (first run in this checkout)",
          file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not CLASSES.is_dir():
        fail(f"build failed (sbt exit {r.returncode})")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(want)


def run(args):
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_home() / 'jars'}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.trace:
        cmd += ["--spans", str(BUILD / "traces" / f"{args.workload}-{args.seed}.json")]
    if args.size:
        cmd += ["--size", args.size]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        fail(f"no result line (java exit {proc.returncode})")
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    print(json.dumps(result))
    return 0 if proc.returncode == 0 and result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion_etl", "lake_query", "train_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["tiny"], default=None,
                    help="tiny inputs, one set-up: the smoke test's size")
    args = ap.parse_args()
    if not SOURCES.joinpath("graft").is_dir():
        fail(f"no graft sources under {SOURCES}; run from a full checkout")
    build()
    sys.exit(run(args))


if __name__ == "__main__":
    main()
