#!/usr/bin/env python3
"""Run one workload of graft's benchmark.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run compiles graft's main
sources together with the harness in perfbench/ (sbt, offline); later runs
reuse that build while the sources are unchanged. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
Everything else goes to standard error. Per-run detail files land in
perfbench/out/results/.
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
OUT = os.path.join(HERE, "out")
WORKLOADS = ["graph", "pipeline"]
# A run must end within 180 s, or within 900 s when it builds first (its
# JVM then also starts without the class-data archive).
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600
HEAP = "3g"
# Class-data-sharing archive of the loaded JDK, Spark and graft classes:
# the first run in a checkout writes it at exit, later runs map it, which
# takes several seconds of class loading off every run's start.
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("cannot find Spark's jars: set SPARK_HOME")
    return jars


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256(HERE.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compile (when the sources changed) and return the runtime classpath
    and whether it compiled."""
    main_src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(main_src):
        fail(f"graft's main sources are missing ({os.path.relpath(main_src, ROOT)}): "
             "run from the root of a graft checkout")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, GRAFT_SPARK_JARS=jars)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        extra = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        opts = " ".join([opts] + extra + ["-Xmx2g"]).strip()
    env["SBT_OPTS"] = opts
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft + harness with sbt (first run in this checkout) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"build failed (exit {p.returncode})", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or "graft" not in lines[-1] and "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-3000:])
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp, True


def run_java(cp, main_args, work, limit, check=True):
    """Run the harness JVM in its own process group; return its exit code
    and stdout (with check, a non-zero exit fails the run)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", cds, "-Xlog:disable", "-Xlog:all=error:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp] + main_args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness exceeded {limit:.0f} s and was stopped", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if check and proc.returncode != 0:
        sys.stderr.write(out[-3000:] if out else "")
        fail(f"harness exited with {proc.returncode}", 5)
    return proc.returncode, out


def main():
    t_start = time.time()
    # a SIGTERM unwinds like Ctrl-C, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not 1 <= a.seconds <= 60:
        ap.error("--seconds must be within 1..60")

    cp, built = build(spark_jars())
    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            code, out = run_java(cp, ["graftbench.SelfTest", "--work", work, "--cores", str(cores)], work, 900,
                                 check=False)
            sys.stdout.write("".join(l + "\n" for l in out.splitlines() if not l.startswith("EMIT")))
            emitted_ok = check_emitted(out)
            sys.exit(0 if code == 0 and emitted_ok else 1)
        results = os.path.join(OUT, "results")
        os.makedirs(results, exist_ok=True)
        detail = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
        _, out = run_java(cp, ["graftbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--cores", str(cores), "--work", work, "--detail", detail],
                       work, limit)
        lines = [l for l in out.splitlines() if l.strip()]
        if not lines:
            fail("harness printed no result", 5)
        result = json.loads(lines[-1])
        if a.trace == 1:
            report_overhead(a, result, results)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_emitted(out):
    """Every metric BENCHMARK.json names is emitted, with its unit, by the
    view (--trace 0 or 1) that must carry it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    emitted = {}
    for line in out.splitlines():
        if line.startswith("EMIT0 ") or line.startswith("EMIT1 "):
            emitted[line[4]] = json.loads(line[6:])
    ok = True
    for view, key in (("0", "end_to_end"), ("1", "per_layer")):
        got = emitted.get(view, {}).get("metrics", {})
        want = {m["name"]: m["unit"] for m in spec[key]}
        missing = [n for n in want if n not in got]
        wrong_unit = [n for n in want if n in got and got[n]["unit"] != want[n]]
        extra = [n for n in got if n not in want]
        good = not missing and not wrong_unit and not extra
        print(f"{'PASS' if good else 'FAIL'} --trace {view} emits exactly the {key} metrics with their units"
              + ("" if good else f" (missing {missing}, wrong unit {wrong_unit}, unlisted {extra})"))
        ok = ok and good
    return ok


def report_overhead(a, traced, results):
    """Tracing overhead against the untraced run of the same workload and
    seed, when one was made in this checkout."""
    plain = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    if not os.path.exists(plain):
        log("tracing overhead: no untraced run of this workload and seed to compare with")
        return
    with open(plain) as f:
        base = json.load(f)["metrics"]["ops_per_s"]["value"]
    t = traced["metrics"]["trace.ops_per_s"]["value"]
    log(f"tracing overhead: ops_per_s {base:.4f} untraced vs {t:.4f} traced "
        f"({100 * (1 - t / base):.1f}% slower traced)")


if __name__ == "__main__":
    main()
