#!/usr/bin/env python3
"""Builds the program and the benchmark from source, then runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-sweep

Run it from the root of a checkout. Everything it builds, generates or
writes stays under that checkout: sbt's target/ directories and
`.bench_build/` (classpath, input cache, traces, per-run work dirs). The
last line of standard output is the result JSON; everything else the JVM
says goes before it or to standard error.
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

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
DATA_CACHE_KEEP = 12

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change needs a rebuild, program and benchmark."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*cmds, log):
    """Runs sbt in the benchmark's build; returns its output lines."""
    with open(log, "w") as out:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *cmds],
                              cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"sbt {' '.join(cmds)} failed (exit {proc.returncode}); see {log}")
    return proc.stdout.splitlines()


def build():
    """Compiles program + benchmark unless their sources are unchanged."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no program sources here: run from the root of a checkout")
    BUILD.mkdir(exist_ok=True)
    h = hashlib.sha256()
    for f in sources():
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    t0 = time.time()
    lines = sbt("compile", "export Runtime/fullClasspath", log=BUILD / "build.log")
    cp = next((l for l in reversed(lines) if "perfbench" in l and os.pathsep in l), None)
    if cp is None:
        fail(f"could not read the classpath from sbt; see {BUILD / 'build.log'}")
    cp_file.write_text(cp)
    stamp.write_text(h.hexdigest())
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def prune_data_cache():
    data = BUILD / "data"
    if not data.is_dir():
        return
    entries = sorted(data.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[DATA_CACHE_KEEP:]:
        shutil.rmtree(p, ignore_errors=True)


def run_jvm(cp, main_args):
    work = BUILD / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--bench-dir", str(BENCH),
            "--work", str(work), *main_args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own process group: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", code=3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}", code=proc.returncode or 1)
    return out


def check_result(out, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names,
    in the units it names."""
    lines = out.rstrip("\n").splitlines()
    if not lines:
        fail("no result line")
    res = json.loads(lines[-1])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        diff = sorted(set(want.items()) ^ set(got.items()))
        fail(f"result metrics differ from BENCHMARK.json: {diff}", code=4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="feed the first output check a wrong value (must report a failed op)")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    ap.add_argument("--record-sweep", action="store_true",
                    help="rewrite sweep/queries.tsv and sweep/expected.tsv")
    a = ap.parse_args()

    if a.selftest:
        build()
        for line in sbt("test", log=BUILD / "selftest.log")[-15:]:
            print(line)
        return
    cp = build()
    if a.record_sweep:
        run_jvm(cp, ["--record-sweep"])
        return
    if not a.workload:
        fail("--workload is required")
    prune_data_cache()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--corrupt"] if a.corrupt else [])
    out = run_jvm(cp, args)
    check_result(out, a.trace == 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
