#!/usr/bin/env python3
"""Build the program and the benchmark from source, run one workload, and
print the benchmark's result as the last line of standard output.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Needs `java` (17) on PATH and a Spark 4
distribution (SPARK_HOME, or `spark-submit` on PATH) whose jars include the
Scala 2.13 compiler. Everything the build and the run write goes under
`.bench_build/perfbench/`.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt passes the
# same set to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"program sources not found under {main.relative_to(ROOT)}")
    prog = sorted(main.rglob("*.scala"))
    bench = sorted((HERE / "scala").rglob("*.scala"))
    if not prog or not bench:
        fail("no Scala sources to build")
    return prog, bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files, deadline):
    compiler = ":".join(str(jars / j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler-", "scala-library-",
                                         "scala-reflect-")))
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".files")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp_dir()}", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    run(cmd, deadline, stdout=sys.stderr)


def run(cmd, deadline, **kw):
    """Run `cmd` to completion; kill its process group past the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        rc = p.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out: {cmd[0]} {' '.join(cmd[1:4])} ...")
    if rc != 0:
        fail(f"command failed with exit code {rc}: {' '.join(cmd[:4])} ...")


def build(jars, deadline):
    """Compile the program, then the benchmark against it; reuse a build
    whose sources are unchanged."""
    prog, bench = sources()
    resources = ROOT / "src" / "main" / "resources"
    prog_id = digest(prog + sorted(p for p in resources.rglob("*") if p.is_file()))
    bench_id = digest(bench)
    prog_out = OUT / f"program-{prog_id}"
    bench_out = OUT / f"bench-{prog_id}-{bench_id}"
    spark_cp = str(jars / "*")
    if not (prog_out / ".done").exists():
        shutil.rmtree(prog_out, ignore_errors=True)
        scalac(jars, spark_cp, prog_out / "classes", prog, deadline)
        (prog_out / ".done").write_text("ok\n")
    if not (bench_out / ".done").exists():
        shutil.rmtree(bench_out, ignore_errors=True)
        scalac(jars, f"{prog_out / 'classes'}:{spark_cp}", bench_out / "classes",
               bench, deadline)
        (bench_out / ".done").write_text("ok\n")
    cp = [str(bench_out / "classes"), str(prog_out / "classes"),
          str(resources), spark_cp]
    return ":".join(cp), f"{prog_id}-{bench_id}"


def tmp_dir():
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return tmp


def jvm(cp, main, args, deadline, capture):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # the heap is fixed and touched up front, so that peak RSS moves with
    # off-heap and native memory rather than with how much heap G1 touched
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp_dir()}",
            f"-Dderby.stream.error.file={OUT / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, start_new_session=True, env=env,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{main} did not finish in time")
    return p.returncode, out


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the generator tests instead of a workload")
    a = ap.parse_args()
    start = time.monotonic()
    jars = spark_jars()
    sources()  # fail fast when the program is not there
    OUT.mkdir(parents=True, exist_ok=True)
    cp, build_id = build(jars, start + BUILD_LIMIT_S)
    deadline = time.monotonic() + RUN_LIMIT_S - min(10, time.monotonic() - start)

    if a.selftest:
        rc, _ = jvm(cp, "perfbench.SelfTest", [], deadline, capture=False)
        sys.exit(rc)
    if not a.workload:
        fail("--workload is required")

    work = OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    rc, out = jvm(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--state", str(OUT / "state"),
        "--build", build_id], deadline, capture=True)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark exited with code {rc} and no result")
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace == 1)
    if set(result["metrics"]) != want:
        sys.stdout.write(out)
        fail("metrics differ from BENCHMARK.json: "
             f"missing {sorted(want - set(result['metrics']))}, "
             f"extra {sorted(set(result['metrics']) - want)}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
