#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (cached under .bench_build/ by a hash of the
sources); every run then generates its inputs from --seed, starts one JVM
for the workload, checks the outputs, and prints as its last line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are the
per-layer metrics, taken from a run that records spans and Spark listener
counts (written to .bench_build/last-trace/).
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
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("stream", "queries")
DEADLINE_S = 170  # a run still going this long after its build is stopped and fails
TABLES_SF = 0.001  # scale of the queries workload's tables; see README

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 HERE):
        for dirpath, dirnames, names in os.walk(base):
            # build outputs never count; perfbench/project holds sources
            dirnames[:] = [d for d in dirnames if d != "target"
                           and (d != "project" or dirpath == HERE)]
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark (looked in {ROOT})")
    # sbt compiles in place, so only the last build's classpath is valid
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_hash()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            built_from, classpath = fh.read().split("\n", 1)
        # the classes sbt wrote must still be there, not only the record
        if built_from == digest and all(
                os.path.exists(e) for e in classpath.strip().split(os.pathsep)):
            return classpath.strip()
        os.remove(cp_file)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's own state and scratch stay inside the checkout; the dependency
    # caches it reads are the toolchain's
    env["SBT_OPTS"] = (os.environ.get("SBT_OPTS", opts) +
                       f" -Dsbt.server.autostart=false -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp}"
                       f" -Dsbt.global.base={os.path.join(WORK, 'sbt-global')}")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=840)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(f"{digest}\n{lines[-1]}")
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1]


def launch(classpath, workload, seed, seconds, trace, data, out, budget_s):
    # Spark gets half the cores the process may use: its task threads at
    # every core left the JVM's own threads (driver, scheduler, collector,
    # compiler) and the generator competing with them, and the run timed
    # that contention more than the program (see README "Measured steadiness")
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    scratch = os.path.join(out, "..", "jvm")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", data, "--out", out]
    os.makedirs(scratch, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(out, "..", "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             cwd=os.path.join(out, ".."))
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} run exceeded its time budget; see {log}")
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"{workload} JVM exited with {rc}:\n{tail}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def self_ms(spans_path):
    """Per span name: total time minus the time its child spans cover."""
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e6
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layer_map = json.load(fh)
    if sorted(m["name"] for m in spec["per_layer"]) != sorted(layer_map):
        fail("BENCHMARK.json per_layer and perfbench/layers.json disagree")
    classpath = build()

    setup_start = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    if a.workload == "queries":
        gen.tables(data, a.seed, TABLES_SF)
    budget = DEADLINE_S - (time.time() - setup_start)
    res = launch(classpath, a.workload, a.seed, a.seconds, a.trace, data, out,
                 budget)
    jvm_done = time.time()

    # failures are keyed by operation: an output check that fails adds to
    # the operation's own failure, not to the count of operations
    failures = dict(res["failures"])
    if a.workload == "queries":
        bad = {f"cold:{q}": msg for q, msg in
               check.oracle(ROOT, data, os.path.join(out, "cold")).items()}
    else:
        bad = {}
    for k, msg in bad.items():
        failures.setdefault(k, msg)
    for k, msg in list(failures.items())[:20]:
        print(f"perfbench: check failed: {k}: {msg}", file=sys.stderr)

    e2e = dict(res["e2e"], setup_s=res["first_op_epoch_ms"] / 1000.0 - setup_start)
    if a.trace:
        # layers a workload does not exercise read 0; the traced run's own
        # end-to-end values give the tracing overhead against an untraced run
        values = {k: float(res["layers"][k] if k in res["layers"] else
                           e2e[k[len("trace."):]] if k.startswith("trace.") else 0.0)
                  for k in layer_map}
        wanted = spec["per_layer"]
        trace_dir = os.path.join(WORK, "last-trace")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        for f in ("spans.jsonl", "jobs.jsonl", "result.json"):
            shutil.copy(os.path.join(out, f), trace_dir)
        with open(os.path.join(trace_dir, "self_ms.json"), "w") as fh:
            json.dump(self_ms(os.path.join(out, "spans.jsonl")), fh, indent=1)
    else:
        values = e2e
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"{a.workload} did not measure {missing}")
    for k, v in res["info"].items():
        print(f"perfbench: {k}: {v}", file=sys.stderr)
    print(f"perfbench: {a.workload} took {time.time() - started:.1f} s "
          f"(setup {e2e['setup_s']:.1f} s, JVM exit at "
          f"{jvm_done - started:.1f} s)", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": int(res["attempted"]),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
