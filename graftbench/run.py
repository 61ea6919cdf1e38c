#!/usr/bin/env python3
"""Run one graftbench workload against the engine in this checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call builds the engine and the benchmark from source with sbt
(graftbench/build.sbt depends on the enclosing build) and records the
runtime classpath under .bench_build/; later calls reuse it while the
sources are unchanged. The run itself is one JVM; its last stdout line is
the JSON result. Spark's log goes to a file and is echoed only on failure.
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
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ["ingest_small", "mixed", "curate"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and main sources."""
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            picks += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            picks += [os.path.join(d, f) for f in files]
    return sorted(p for p in picks if os.path.isfile(p))


def digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile with sbt when the sources changed; return the classpath and
    whether this call built it."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    want = digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == want:
            return rec["classpath"], False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # Offline resolution finds the cached artifacts only under the
    # repositories they were fetched from.
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's per-user state (global base) goes under the build directory.
    opts += f" -XX:-UsePerfData -Dsbt.global.base={os.path.join(BUILD, 'sbt')}"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "graftbench" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": want, "classpath": cps[-1]}, f)
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources beside the benchmark (expected build.sbt and "
             f"src/main/scala/graft under {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    started = time.time()
    classpath, built = build()
    work = os.path.join(BUILD, f"run_{args.workload}_{args.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: with C2 on, a run of this length is still compiling
    # (C2 threads use most of a core well into the measured loop), so a
    # run's timings depended on how much CPU the JIT got from the host. The
    # C1 tier settles within the warm-up and uses little CPU afterwards.
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    out_path = os.path.join(work, "stdout.txt")
    log_path = os.path.join(work, "spark.log")
    # A run gets RUN_LIMIT_S in all; the first one after a build gets it
    # on top of the build.
    limit = RUN_LIMIT_S if built else max(30, RUN_LIMIT_S - (time.time() - started))
    with open(out_path, "w") as out, open(log_path, "w") as err:
        code = run_group(cmd, limit, cwd=ROOT, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    traces = os.path.join(BUILD, "traces")
    for name in os.listdir(work):
        if name.startswith("trace_"):
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, name), os.path.join(traces, name))
    with open(log_path) as f:
        log = f.read().splitlines()
    # The benchmark's own progress lines always; Spark's log only on failure.
    sys.stderr.write("".join(l + "\n" for l in log if l.startswith("[graftbench]")))
    if code != 0:
        sys.stderr.write("\n".join(log[-60:]) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.stderr.write("\n".join(lines) + "\n")
        fail("timed out" if code is None else f"run failed (exit {code})")
    # A run whose answers disagreed with the model prints its result and
    # exits non-zero.
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
