#!/usr/bin/env python3
"""Run one perfbench workload against the graft sources in this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload join_dedup --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

The script compiles `src/main/scala` and the harness under `perfbench/src`
with the Scala compiler that ships in Spark's `jars/` directory (no sbt),
caching the classes under `.bench_build/perfbench/<name>-<source hash>`
(or under `$CARGO_TARGET_DIR` when that is set). It then starts one JVM for
the workload in a fresh per-run scratch directory below `.bench_scratch/`,
relays the JVM's output, and deletes the scratch directory at exit. The last
line of standard output is the JVM's one-line JSON result.

Exit codes: 0 all checks passed; 1 a check failed or the JVM failed;
2 the checkout or the toolchain is incomplete (nothing was run).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("join_dedup", "index_churn")

# heap and GC are part of the recorded configuration (see Main.scala)
HEAP = "3g"
GC = "-XX:+UseParallelGC"
# compiler threads live as long as the JVM, so their CPU time can be taken
# out of round_cpu_s (see JvmProbe.compilerCpuNs)
JIT = "-XX:-UseDynamicNumberOfCompilerThreads"
# a run must end within 180 s; the JVM gets this long after its build
JVM_DEADLINE_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find Spark: set SPARK_HOME or put spark-submit on PATH")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"{jars} holds no scala-compiler jar")
    return jars


def sources(base):
    return sorted(p for p in base.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_into(out, files, classpath, jars):
    """scalac `files` into `out` once; a finished build is reused."""
    if out.is_dir():
        return
    tmp = out.with_name(out.name + f".tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(res.stdout[-8000:], file=sys.stderr)
        fail(f"compiling {out.name} failed", 1)
    argfile.unlink()
    os.replace(tmp, out)
    print(f"perfbench: built {out.name} in {time.time() - t0:.1f}s", file=sys.stderr)


def build():
    jars = spark_jars()
    prog_src = ROOT / "src" / "main" / "scala"
    prog = sources(prog_src) if prog_src.is_dir() else []
    if not prog:
        fail("no program sources under src/main/scala: run from a graft checkout")
    bench = sources(HERE / "src") + sources(HERE / "test")
    if not bench:
        fail("no harness sources under perfbench/src")
    target = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not target.is_absolute():
        target = ROOT / target
    target = target / "perfbench"
    prog_hash = digest(prog)
    prog_out = target / f"graft-{prog_hash}"
    compile_into(prog_out, prog, f"{jars}/*", jars)
    bench_out = target / f"bench-{digest(bench, prog_hash.encode())}"
    compile_into(bench_out, bench, f"{prog_out}:{jars}/*", jars)
    return [bench_out, prog_out, HERE / "conf", f"{jars}/*"]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def fresh_scratch():
    """A new empty scratch dir; dirs of runs that were killed are removed."""
    base = ROOT / ".bench_scratch"
    base.mkdir(exist_ok=True)
    for d in base.glob("run-*"):
        try:
            owner = int(d.name.split("-")[1])
        except (IndexError, ValueError):
            continue
        if not pid_alive(owner):
            shutil.rmtree(d, ignore_errors=True)
    d = base / f"run-{os.getpid()}-{time.time_ns()}"
    d.mkdir()
    return d


def run_jvm(classpath, main, args, scratch):
    tmp = scratch / "tmp"
    tmp.mkdir()
    # -UsePerfData: the JVM would otherwise write its counters under /tmp
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, JIT,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'conf' / 'log4j2.properties'}",
            f"-Dperfbench.heap={HEAP}", f"-Dperfbench.gc={GC}", f"-Dperfbench.jit={JIT}",
            "-cp", ":".join(str(c) for c in classpath), main] + args
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    prev = {s: signal.signal(s, lambda *a: (stop(), sys.exit(1)))
            for s in (signal.SIGTERM, signal.SIGINT)}
    timer_start = time.time()
    last = ""
    try:
        watchdog = threading.Timer(JVM_DEADLINE_S, stop)
        watchdog.daemon = True
        watchdog.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
            print(line, flush=True)
        code = proc.wait()
        watchdog.cancel()
    finally:
        stop()
        proc.wait()
        for s, h in prev.items():
            signal.signal(s, h)
    if time.time() - timer_start >= JVM_DEADLINE_S:
        fail(f"the workload JVM ran past {JVM_DEADLINE_S}s and was stopped", 1)
    return code, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="feed every correctness check corrupted results and "
                    "assert each one reports failure")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build()
    scratch = fresh_scratch()
    try:
        if a.selftest:
            code, _ = run_jvm(classpath, "perfbench.CheckSelfTest", [], scratch)
            sys.exit(code)
        spans = ROOT / ".bench_out" / f"spans-{a.workload}-{a.seed}.jsonl"
        if a.trace:
            spans.parent.mkdir(parents=True, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--scratch", str(scratch), "--spans", str(spans)]
        code, last = run_jvm(classpath, "perfbench.Main", args, scratch)
        if code == 0 and not last.startswith("{"):
            fail("the workload printed no result line", 1)
        sys.exit(code)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
