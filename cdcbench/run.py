#!/usr/bin/env python3
"""CDC engine benchmark runner.

Run from the repository root:

    python3 cdcbench/run.py --workload upsert-cow --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then runs one workload in one JVM and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 a
separately traced run reports the per-layer metrics. The line before it,
starting with "config:", records the effective configuration of the run.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("upsert-cow", "upsert-mor")
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp matches the sources, pack the class
    directories into jars and record a class-data-sharing archive from a
    tiny run. Returns (classpath, archive or None)."""
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = fh.read().split("\n")
        if stamp[0] == digest:
            return stamp[1], (stamp[2] or None)
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # sbt's own per-user state goes under target/ too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.supershell=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0 or not lines or "/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    # the class-data-sharing archive accepts jars only
    jars_dir = os.path.join(HERE, "target", "jars")
    shutil.rmtree(jars_dir, ignore_errors=True)
    os.makedirs(jars_dir)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(jars_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, e))
            e = jar
        entries.append(e)
    classpath = os.pathsep.join(entries)
    log(f"compiled in {time.time() - t0:.0f} s; recording the class archive")
    archive = os.path.join(HERE, "target", "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(HERE, "work", f"archive-{os.getpid()}")
    try:
        cores, _, heap_mb = host()
        run_jvm(classpath, ["--workload", "upsert-cow", "--seed", "1",
                            "--seconds", "2", "--trace", "0", "--tiny", "1"],
                work, heap_mb, cores, time.time() + 300,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    except SystemExit as e:
        log(f"no class archive: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(archive):
        archive = ""
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + classpath + "\n" + archive + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return classpath, (archive or None)


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a quarter of the host, between 1 and 4 GiB: the inputs are sized to
    # fit well inside it, and the host's memory is shared
    heap_mb = max(1024, min(4096, mem_kb // 4096))
    return cores, mem_kb // 1024, heap_mb


def run_jvm(classpath, args, work, heap_mb, cores, deadline, jvm_opts=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM log lines (class-archive notices among them) stay off stdout
    cmd = ["java", "-Xlog:disable", "-Xlog:all=error:stderr"] + list(jvm_opts)
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "cdcbench.Main"] + args + [
            "--work", work, "--cores", str(cores)]
    env = dict(os.environ)
    # engine scratch and index tables stay inside the work directory
    env["GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env.pop("SPARK_HOME", None)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, env=env, cwd=work, start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("the workload did not finish in time")
    if p.returncode != 0:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"the workload failed (exit {p.returncode})")
    for line in out.split("\n"):
        if line.startswith("CDCBENCH_RESULT "):
            return json.loads(line[len("CDCBENCH_RESULT "):])
    sys.stderr.write(err[-6000:])
    raise SystemExit("the workload printed no result")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="a tiny log and corpus, for the harness's smoke test")
    ap.add_argument("--tamper", action="store_true",
                    help="drop one row from the replay oracle's answer, so "
                         "the run must report a wrong table")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("engine sources not found next to the benchmark")
    # BENCHMARK.json names the metrics each mode prints
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    t_start = time.time()
    classpath, archive = build()
    cores, mem_mb, heap_mb = host()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.tiny:
            args += ["--tiny", "1"]
        if a.tamper:
            args += ["--tamper", "1"]
        res = run_jvm(classpath, args, work, heap_mb, cores,
                      time.time() + RUN_LIMIT_S,
                      [f"-XX:SharedArchiveFile={archive}"] if archive else [])
        if "queries" in res["config"]:
            import oracle
            bad = oracle.check(work, res["config"])
            res["failed"] += len(bad)
            res["notes"] += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    config = dict(res["config"])
    config.pop("oracle_sql", None)
    config.update({"host_cores": cores, "host_mem_mb": mem_mb,
                   "heap_mb": heap_mb, "wall_s": round(time.time() - t_start, 3)})
    print("config: " + json.dumps(config, sort_keys=True))
    if res["notes"]:
        print("failures: " + json.dumps(res["notes"]))
    missing = [n for n in wanted if n not in res["metrics"]]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    m = {n: res["metrics"][n] for n in wanted}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": m}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
