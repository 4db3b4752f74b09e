#!/usr/bin/env python3
"""Storm-cycle benchmark: one command per workload.

    python3 stormbench/run.py --workload mainland|stream-gates \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/` and reuses the
build while no source file changes. Each run then

1. generates the workload's inputs from the seed (`gen.py`),
2. launches one JVM (`stormbench.Run`, `local[<nproc>]`) that drives the
   program through its public calls for `--seconds` of measured work,
3. checks the program's outputs (`checks.py`; the stream gates are checked
   inside the JVM against their DuckDB oracles),
4. prints one JSON line: `correct`, `attempted`, `failed` and `metrics` --
   the end-to-end metrics with `--trace 0`, the per-layer ones with
   `--trace 1`.

Everything is written under `.bench_build/` in the checkout; the run's
working directory is deleted when it ends, its result, trace and check
records are kept under `.bench_build/results/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("mainland", "stream-gates")
# Forecasts generated per pipeline run: the cold one, the warm one, and
# spares for a longer --seconds.
FORECASTS = 4
HEAP = "3g"
TIMEOUT_S = 170
GEN_REPEATS = 3

# JVM flags the program's own build gives forked runs (build.sbt): the JDK 17
# module opens Spark needs outside spark-submit, UI off, UTC sessions,
# heap committed up front.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[stormbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "stormbench/harness/build.sbt", "stormbench/harness/project/build.properties",
            "stormbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """sbt-compiles the program and the harness; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "stormbench", "harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {p.returncode}")
    cps = [ln for ln in p.stdout.splitlines()
           if ln.count(":") > 2 and ".jar" in ln and not ln.startswith("[")]
    if not cps:
        raise RuntimeError("sbt printed no runtime classpath")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def generate(workload, seed, run_dir):
    """Generates the inputs GEN_REPEATS times (set-up is reported as a median);
    the first copy is the one the run reads. The forecast overlap is
    recorded in its manifest afterwards, outside the timing."""
    times = []
    data = os.path.join(run_dir, "data")
    for i in range(GEN_REPEATS):
        out = data if i == 0 else os.path.join(run_dir, f"gen-repeat-{i}")
        t0 = time.perf_counter()
        if workload == "stream-gates":
            gen.gen_stream_tables(seed, out)
        else:
            gen.gen_pipeline(workload, seed, out, FORECASTS)
        times.append(time.perf_counter() - t0)
        if i > 0:
            shutil.rmtree(out)
    if workload != "stream-gates":
        gen.record_overlap(workload, seed, data, FORECASTS)
    return data, statistics.median(times)


def launch(root, classpath, workload, data, run_dir, seconds, trace):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "stormbench.Run", "--workload", workload, "--data", data,
              "--out", os.path.join(run_dir, "result.json"), "--checkout", root,
              "--seconds", str(seconds), "--trace", str(trace)])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    out_path = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(out_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), t0


def main(argv=None):
    ap = argparse.ArgumentParser(description="storm-cycle benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is killed and the run
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/Main.scala", "tools/check_oracle.py"]
    missing = [n for n in needed if not os.path.exists(os.path.join(root, n))]
    if missing:
        log(f"not a checkout of the program (missing {', '.join(missing)}); run from its root")
        return 2

    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(build_dir, "runs", tag)
    keep_dir = os.path.join(build_dir, "results", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(keep_dir, exist_ok=True)
    try:
        data, gen_s = generate(a.workload, a.seed, run_dir)
        result, launched = launch(root, classpath, a.workload, data, run_dir, a.seconds, a.trace)
        jvm_setup_s = result["ready_ms"] / 1000.0 - launched
        attempted, failed = int(result["attempted"]), int(result["failed"])
        failures = list(result.get("failures", []))
        if a.workload != "stream-gates":
            report = checks.check_pipeline(data, result["units"])
            attempted += report["attempted"]
            failed += len(report["failures"])
            failures += report["failures"]
            with open(os.path.join(keep_dir, "checks.json"), "w") as f:
                json.dump(report, f, indent=1, sort_keys=True)
    finally:
        for name in ("result.json", "jvm.log"):
            if os.path.exists(os.path.join(run_dir, name)):
                shutil.copy(os.path.join(run_dir, name), keep_dir)
        shutil.rmtree(run_dir, ignore_errors=True)

    for msg in failures[:20]:
        log(f"FAILED {msg}")
    if a.trace:
        values = dict(result["layers"])
        values.update(result["residue"])
        values["setup.gen_s"] = gen_s
        values["setup.jvm_s"] = jvm_setup_s
    else:
        values = dict(result["metrics"])
        values["setup_s"] = gen_s + jvm_setup_s
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        v = values.get(name)
        if v is None:
            log(f"metric {name} missing from the run")
            return 1
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
