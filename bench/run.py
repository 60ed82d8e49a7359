#!/usr/bin/env python3
"""Run one arcane-spark benchmark workload and print its result.

Usage, from the root of a checkout:

    python3 bench/run.py --workload cdc_stream|ingest_frozen|query_mix \
        --seed N --seconds S --trace 0|1 [--cores C]

The first run in a checkout builds the engine and the benchmark from source
with sbt (offline) into `target/` directories and caches the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged. Each
run keeps its scratch state in one directory under `.bench_build/` and
removes it at exit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_stream", "ingest_frozen", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's
# own javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, relative to ROOT."""
    out = []
    for top in ("build.sbt", "project", "src/main", "bench/build.sbt", "bench/project",
                "bench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += sorted(os.path.relpath(os.path.join(d, f), ROOT) for f in files)
    return out


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def code_revision(digest):
    """The git revision when the checkout is a repository, else the digest
    of the built sources."""
    try:
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if rev.returncode == 0 and rev.stdout.strip():
            dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--", "src",
                                    "build.sbt", "project", "bench"],
                                   capture_output=True, text=True, timeout=10).stdout.strip()
            return rev.stdout.strip() + ("+dirty" if dirty else "") + f" src:{digest[:12]}"
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src:{digest[:12]}"


def build(digest):
    """Compile engine + benchmark and return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)[:2]):
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    # `export` prints the classpath as one line of absolute paths
    lines = [l.strip() for l in p.stdout.splitlines() if l.startswith(os.sep)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cpu_times():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7]
    except (OSError, ValueError, IndexError):
        return None


def check_against_spec(workload, trace, result):
    """A gated workload must report exactly the metrics BENCHMARK.json
    lists for its mode, with the units it lists."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    with open(spec_path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        raise SystemExit(f"metrics differ from BENCHMARK.json: missing "
                         f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                         f"units {sorted(k for k in want if k in got and want[k] != got[k])}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine sources missing: {need} not found next to bench/")

    digest = source_digest()
    cp = build(digest)
    rev = code_revision(digest)

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "bench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
            "--work-dir", work, "--bench-dir", BENCH, "--code-rev", rev]
    if a.trace:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]

    result = None
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise SystemExit(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
        lines = out.splitlines()
        for l in lines[:-1]:
            print(l)
        if proc.returncode == 0 and lines:
            result = json.loads(lines[-1])
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        raise SystemExit(f"{a.workload} failed (exit {proc.returncode})")
    check_against_spec(a.workload, a.trace, result)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[0] + cpu1[1] > cpu0[0] + cpu0[1]:
        # CPU time the hypervisor gave to other guests: the usual cause of
        # run-to-run drift on a shared machine
        steal = (cpu1[1] - cpu0[1]) / (cpu1[0] + cpu1[1] - cpu0[0] - cpu0[1])
        print(f"[bench] cpu steal during the run: {100 * steal:.1f}% of busy time")

    # tracing overhead: the traced run's end-to-end values against the
    # median of the untraced runs of the same workload, sources and cores
    runs = os.path.join(BUILD, "untraced", digest[:12], f"{a.workload}-cores{a.cores}")
    if a.trace == 0:
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(runs, f"seed{a.seed}.json"), "w") as f:
            json.dump(result["metrics"], f)
    else:
        base = []
        if os.path.isdir(runs):
            for name in sorted(os.listdir(runs)):
                with open(os.path.join(runs, name)) as f:
                    base.append(json.load(f))
        for l in lines:
            parts = l.split()
            if len(parts) < 3 or parts[:2] != ["[bench]", "traced"]:
                continue
            k, v = parts[2].split("=")
            ref = [b[k]["value"] for b in base if k in b]
            if ref:
                med = statistics.median(ref)
                print(f"[bench] trace overhead {k}: traced {float(v):.4f} / untraced median "
                      f"{med:.4f} over {len(ref)} runs = {float(v) / med:.3f}")
            else:
                print(f"[bench] trace overhead {k}: no untraced run of these sources to compare")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
