#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (first run only), generates the
workload's inputs from the seed, runs the closed-loop workload in one JVM
(Spark local[cpus]), checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones. The full artifact of
every run is kept under perfbench/.work/artifacts/.
"""

import argparse
import glob
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target", "scala-2.13")
# class data sharing archive of the harness JVM's classes, made at build time
CDS = os.path.join(WORK, "classes.jsa")
# scale factor of each workload's generated inputs
WORKLOADS = {"wistia_nights": 0.1, "store_serving": 0.01, "query_registry": 0.01}
CPUS = 4
HEAP = "4g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_home():
    """SPARK_HOME, or the install that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for pat in ("src/main/**/*", "perfbench/src/main/**/*", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        files += [f for f in glob.glob(os.path.join(ROOT, pat), recursive=True)
                  if os.path.isfile(f)]
    return sorted(files)


def tree_hash():
    h = hashlib.sha1()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit():
    """The source tree's identity: its git commit when the repository root
    is a git work tree with no changes to the sources, else a hash of them."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if top.returncode == 0 and os.path.realpath(top.stdout.strip()) == os.path.realpath(ROOT):
            dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "perfbench"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=10)
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, timeout=10)
            if dirty.returncode == 0 and not dirty.stdout.strip() and head.returncode == 0:
                return head.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + tree_hash()[:12]


def run_bounded(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def jar():
    found = glob.glob(os.path.join(TARGET, "perfbench_*.jar"))
    return found[0] if len(found) == 1 else None


def java(args, jvm=()):
    """The harness JVM command. The class path names every jar (no
    wildcard), as class data sharing requires."""
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", *jvm]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join([jar()] + jars), "graft.perfbench.Main", *args])


def build():
    """Package the program and the harness, then record a class data sharing
    archive from a short run on tiny inputs: it takes class loading out of
    every later JVM start."""
    stamp = os.path.join(WORK, "build.stamp")
    want = tree_hash()
    if jar() and os.path.exists(stamp) and open(stamp).read() == want:
        return
    log = os.path.join(WORK, "build.log")
    shutil.rmtree(TARGET, ignore_errors=True)
    rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "package"],
                     HERE, log, 600, env=dict(os.environ, SPARK_HOME=spark_home()))
    if rc != 0 or not jar():
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed", 3)
    train = os.path.join(WORK, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    try:
        os.makedirs(os.path.join(train, "work", "tmp"))
        gen.write("wistia_nights", 0, 0.001, os.path.join(train, "data"))
        run_bounded(java(["--workload", "wistia_nights", "--data", os.path.join(train, "data"),
                          "--work", os.path.join(train, "work"), "--seconds", "0",
                          "--trace", "0", "--seed", "0", "--out", os.path.join(train, "a.json")],
                         [f"-XX:ArchiveClassesAtExit={CDS}",
                          f"-Djava.io.tmpdir={os.path.join(train, 'work', 'tmp')}"]),
                    train, os.path.join(WORK, "cds.log"), 240)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(want)


def trace_overhead(a, art, rev):
    """Traced over untraced op_p50_s, when this checkout holds an untraced
    run of the same commit, workload, seed and length; otherwise None."""
    path = os.path.join(WORK, "artifacts", f"{a.workload}-untraced-seed{a.seed}.json")
    if not os.path.exists(path):
        return None
    base = json.load(open(path))
    if base["context"].get("commit") != rev or base.get("seconds") != a.seconds:
        return None
    return metrics.op_p50(art) / base["metrics"]["op_p50_s"]


def run_harness(a, sf, run_dir, t_start, rev):
    """Generate the inputs, run the harness JVM and the output checks that
    need DuckDB; returns the artifact."""
    shutil.rmtree(run_dir, ignore_errors=True)
    data, scratch = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(scratch, "tmp"))
    t_gen = time.time()
    manifest = gen.write(a.workload, a.seed, sf, data)
    gen_s = time.time() - t_gen
    out = os.path.join(run_dir, "artifact.json")
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = java(["--workload", a.workload, "--data", data, "--work", scratch,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
                "--sf", str(sf), "--cpus", str(CPUS), "--commit", rev, "--out", out],
               cds + [f"-Djava.io.tmpdir={scratch}/tmp"])
    log = os.path.join(run_dir, "harness.log")
    t_jvm = time.time()
    rc = run_bounded(cmd, run_dir, log, RUN_LIMIT_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"harness {'timed out' if rc is None else f'exited {rc}'}", 4)
    art = json.load(open(out))
    t_oracle = time.time()
    if "registry" in art["extras"]:
        art["checks"] += oracle.check(data, art["extras"]["registry"])
        for e in art["extras"]["registry"]:
            del e["oracle"], e["output"]
    art["wall"] = {"gen_s": gen_s, "jvm_s": t_oracle - t_jvm, "oracle_s": time.time() - t_oracle}
    return art, manifest


def main():
    # a terminated benchmark still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"program sources not found under {ROOT}/src/main/scala")
    if shutil.which("sbt") is None or shutil.which("java") is None or not spark_home():
        die("sbt, java and a Spark installation (SPARK_HOME) are required")
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    build()
    t_start = time.time()  # the run's time limit starts after the build
    sf = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    rev = commit()
    try:
        art, manifest = run_harness(a, sf, run_dir, t_start, rev)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct, attempted, failed = metrics.verdict(art)
    e2e = metrics.end_to_end(art)
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "context": dict(art["context"], host_calib_s=art["host_calib_s"],
                        class_sharing=os.path.exists(CDS),
                        inputs=manifest["tables"] or manifest.get("wistia", {}).get("events")),
        "metrics": e2e, "figures": metrics.figures(art),
        "setup": {"session_s": art["session_s"], "prepare_s": art["prepare_s"],
                  "loop_s": art["loop_s"]},
        "wall": art["wall"],
        "checks": art["checks"], "extras": art["extras"],
        "ops": [[o["kind"], o["end"] - o["start"], o["ok"], o["error"]] for o in art["ops"]],
    }
    if a.trace:
        summary["figures"]["trace_overhead"] = trace_overhead(a, art, rev)
        summary["per_layer"] = metrics.per_layer(art)
        summary["spans"] = art["spans"]
        summary["counters"] = art["counters"]
    tag = "traced" if a.trace else "untraced"
    for name in (f"{a.workload}-{tag}-seed{a.seed}.json", f"{a.workload}-{tag}-latest.json"):
        with open(os.path.join(WORK, "artifacts", name), "w") as f:
            json.dump(summary, f, indent=1)

    shown = summary["per_layer"] if a.trace else e2e
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": metrics.unit(k)}
                                  for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
