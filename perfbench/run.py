#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload poll_cycle --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.py) and makes a class-data archive from one short
analytics run; every run then starts one JVM with a fixed heap and thread
count and that archive, in a fresh working directory under .bench_work/
that is removed afterwards. --trace 1 installs the listeners and the counting
`file:` filesystem and prints the per-layer ledger instead of the
end-to-end metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("poll_cycle", "sink_upsert", "analytics")
HEAP = "1536m"
CPUS = "2"
JVM_TIMEOUT_S = 170
# C1 only: in a run this short, C2 compiler threads compete with the two
# Spark threads and make op times drift as they finish. Serial GC: no
# concurrent GC threads either, and a full GC leaves exactly the live set.
# Soft references are cleared at every GC, so the live heap does not
# depend on when caches were last touched.
JIT_GC = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-XX:SoftRefLRUPolicyMSPerMB=0"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# the workload whose classes the archive holds: it loads the most of Spark
ARCHIVE_WORKLOAD = "analytics"


def jvm(cp, work, args, extra=()):
    """The benchmark JVM's command line, running perfbench.Main in `work`."""
    log4j = os.path.join(build.ROOT, "perfbench", "log4j2.properties")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CPUS}"]
            + JIT_GC + list(extra)
            # JVM warnings go to stderr, never into the result on stdout
            + ["-Xlog:disable", "-Xlog:all=warning:stderr",
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={log4j}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args + ["--work", work])


def fresh_work(name):
    work = os.path.join(build.ROOT, ".bench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def class_archive(cp):
    """The AppCDS archive of the classes a one-round analytics run loads,
    made once per build. Loading Spark's classes from it instead of from
    the jars cuts JVM start and the first Spark jobs by seconds, which are
    time every run spends outside the timed phase."""
    path = os.path.join(build.out_dir(), "classes.jsa")
    if os.path.exists(path):
        return path
    print("[perfbench] making the class-data archive", file=sys.stderr, flush=True)
    work = fresh_work("archive")
    tmp = path + ".tmp"
    args = ["--workload", ARCHIVE_WORKLOAD, "--seed", "0", "--seconds", "1", "--trace", "0"]
    proc = subprocess.Popen(jvm(cp, work, args, [f"-XX:ArchiveClassesAtExit={tmp}"]),
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            cwd=build.ROOT)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(tmp):
        raise build.BuildError(f"class-data archive run exited with {proc.returncode}")
    os.replace(tmp, path)
    return path


def malformed(result, trace):
    """Why `result` does not match BENCHMARK.json, or None: the metrics must
    be exactly the manifest's end_to_end (trace 0) or per_layer (trace 1)
    metrics, in their units, each a finite number; end-to-end ones above 0."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"keys {sorted(result)}"
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    want = {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        return (f"missing {sorted(set(want) - set(got))}, "
                f"unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        v = m.get("value")
        if m.get("unit") != want[name]:
            return f"{name} in {m.get('unit')}, not {want[name]}"
        if not isinstance(v, (int, float)) or v != v or abs(v) == float("inf"):
            return f"{name} = {v}"
        if not trace and v <= 0:
            return f"{name} = {v}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
        archive = class_archive(cp)
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2

    work = fresh_work(a.workload)
    cmd = jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace)],
              [f"-XX:SharedArchiveFile={archive}"])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] {a.workload} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] JVM exited with {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    problem = malformed(result, a.trace)
    if problem:
        print(f"[perfbench] malformed result line: {problem}", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
