#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the parent directory.

    python3 perfbench/run.py --workload serve|churn|curate --seed N \
        --seconds S --trace 0|1 [--size full|smoke] [--out DIR]

Builds the engine and the benchmark from source with sbt on first use (or
when a source file changed), then launches one JVM that generates the
workload's inputs from the seed, sets up, runs the measured window and
checks every output. Prints every metric by name with its unit, then, as
the last line, one JSON object with the keys correct, attempted, failed and
metrics. The full record, with the environment it ran under, goes to a
result file under --out; traced runs also write their span file there.

Everything it writes stays under the checkout: build state and a private
copy of the compiled classes in .bench_build/, generated inputs, logs and
results in .bench_work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("serve", "churn", "curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 690

# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's sources and build, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        proj = os.path.join(base, "project")
        files += [os.path.join(proj, f) for f in (os.listdir(proj) if os.path.isdir(proj) else ())
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(want):
    """Compile with sbt unless a build of these sources exists; return its classpath.

    sbt compiles the engine into its shared target/ directory, which the
    engine's own builds also write. So the class directories on the classpath
    are copied under .bench_build/perfbench/<digest>/ and the copies are what
    runs: a build keyed by the source digest holds the classes of exactly
    those sources.
    """
    snap = os.path.join(BUILD, want)
    cp_path = os.path.join(snap, "classpath.txt")
    if os.path.exists(cp_path):
        with open(cp_path) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "-Dsbt.offline=true", "writeClasspath"],
            cwd=HERE, env={**os.environ, "COURSIER_MODE": "offline"}, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed", 1)
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        entries = fh.read().strip().split(os.pathsep)
    for old in os.listdir(BUILD):
        if os.path.isdir(os.path.join(BUILD, old)):
            shutil.rmtree(os.path.join(BUILD, old))
    tmp = snap + ".tmp"
    os.makedirs(tmp)
    cp = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            dst = os.path.join(tmp, f"classes{i}")
            shutil.copytree(e, dst)
            e = os.path.join(snap, f"classes{i}")
        cp.append(e)
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(cp))
    os.rename(tmp, snap)
    with open(cp_path) as fh:
        return fh.read().strip()


def read(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    text = read("/proc/stat") or ""
    for line in text.splitlines():
        if line.startswith("cpu "):
            v = [int(x) for x in line.split()[1:]]
            return (v[7] if len(v) > 7 else 0), sum(v[:8])
    return 0, 0


def cgroup_quota():
    v2 = read("/sys/fs/cgroup/cpu.max")
    if v2:
        quota, period = v2.split()[:2]
        return None if quota == "max" else int(quota) / int(period)
    q, p = read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us"), read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    if q and p and int(q) > 0:
        return int(q) / int(p)
    return None


def mem_available_mb():
    for line in (read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemAvailable:"):
            return int(line.split()[1]) / 1024
    return None


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--out", default=os.path.join(WORK, "results"))
    ap.add_argument("--fault", help="corrupt this call's output before its check (self-test)")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source not found: {os.path.join(ROOT, need)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    source_digest = digest()
    cp = build(source_digest)
    os.makedirs(args.out, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(WORK, "runs", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_dir = os.path.join(WORK, "logs")
    os.makedirs(log_dir, exist_ok=True)
    spans = os.path.join(args.out, f"spans-{tag}.jsonl")

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--size", args.size, "--work", work]
    if args.trace:
        cmd += ["--spans", spans]
    if args.fault:
        cmd += ["--fault", args.fault]

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "cgroup_cpu_quota": cgroup_quota(),
        "load_avg_start": os.getloadavg(),
        "mem_available_mb": mem_available_mb(),
        "git_commit": git_commit(),
        "source_digest": source_digest,
        "flush_policy": "local filesystem, no fsync",
    }
    steal0, total0 = cpu_times()
    log_path = os.path.join(log_dir, f"{tag}.log")
    result_line = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {JVM_TIMEOUT_S}s (log: {log_path})", 1)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result_line = line[len("RESULT "):]
    steal1, total1 = cpu_times()
    if result_line is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run produced no result (exit {proc.returncode}, log: {log_path})", 1)

    res = json.loads(result_line)
    env["load_avg_end"] = os.getloadavg()
    env["steal_pct"] = 100.0 * (steal1 - steal0) / (total1 - total0) if total1 > total0 else None
    env.update(res.pop("env", {}))
    record = {"args": vars(args), "env": env, **res}
    if args.trace:
        record["spans_file"] = spans
    with open(os.path.join(args.out, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']}")
    for f in res.get("failures", []):
        print(f"# FAIL {f}")
    for section in ("metrics", "detail"):
        for name, m in res[section].items():
            if isinstance(m, dict):
                print(f"{section[0]} {name:<40} {m['value']:>16.6g} {m['unit']}")
    for k, v in env.items():
        print(f"e {k:<40} {v}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] and proc.returncode == 0 else 3)


if __name__ == "__main__":
    main()
