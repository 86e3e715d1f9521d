#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference's ingest loop and the query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Workloads: backfill, query_mix (see perfbench/DESIGN.md). The
first run in a checkout builds the program (`sbt compile`), compiles
the benchmark sources against it with the Scala compiler that ships
with the Spark jars, and generates the input tables; later runs reuse
all three while their sources are unchanged. Everything is written
under `.bench_build/` in the checkout.

Each run starts one fresh JVM (pinned heap, ParallelGC, local[nproc])
and prints every metric with its unit and sample count, then, as the
last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones, split from spans the run records around
its calls into the program. Exit code 0 when every correctness check
holds, 1 when one fails, 2 when the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CDS = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("backfill", "query_mix")
HEAP = "2g"
TABLES_SF = "0.01"
TOPIC_EVENTS = "100000"
TOPIC_USERS = "1500"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    """A named reason the run could not produce a result."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree(*patterns):
    out = []
    for pat in patterns:
        out += [p for p in glob.glob(os.path.join(ROOT, pat), recursive=True) if os.path.isfile(p)]
    return out


def stamped(name, key, build):
    """Run `build` unless the stamp file `name` already records `key`."""
    stamp = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    build()
    with open(stamp, "w") as f:
        f.write(key)


def run_checked(cmd, timeout, what, **kw):
    """Run a build step in its own process group, so a timeout ends every
    process it started (sbt forks a JVM)."""
    t0 = time.time()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError(f"{what}: timed out after {timeout} s")
    if p.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise BenchError(f"{what}: exit code {p.returncode}")
    log(f"{what}: {time.time() - t0:.1f} s")


def jar_dir():
    """The Spark jar directory the build itself uses (build.sbt's unmanagedBase)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def build_program():
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    run_checked([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                "sbt compile", cwd=ROOT, env=env)
    if not os.path.isdir(os.path.join(ROOT, "target", "scala-2.13", "classes", "graft")):
        raise BenchError("sbt compile left no target/scala-2.13/classes/graft")


def build_bench(jars):
    out = os.path.join(BUILD, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    found = {m: sorted(glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar")))
             for m in ("compiler", "library", "reflect")}
    if not all(found.values()):
        raise BenchError(f"no Scala compiler jars in {jars}")
    comp = [v[-1] for v in found.values()]
    cp = ":".join([os.path.join(ROOT, "target", "scala-2.13", "classes")] +
                  sorted(glob.glob(os.path.join(jars, "*.jar"))))
    srcs = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    run_checked(["java", "-Xss8m", "-Xmx1g", "-cp", ":".join(comp), "scala.tools.nsc.Main",
                 "-d", out, "-classpath", cp] + srcs, 300, "scalac perfbench")
    # class directories as jars: the JVM's class-data sharing archive
    # (build_cds) covers jar entries only
    lib = os.path.join(BUILD, "lib")
    shutil.rmtree(lib, ignore_errors=True)
    os.makedirs(lib)
    for name, src in (("bench.jar", out), ("graft.jar", os.path.join(ROOT, "target", "scala-2.13", "classes"))):
        with zipfile.ZipFile(os.path.join(lib, name), "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(src)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, src))


def build_cds(jars):
    """A class-data sharing archive of the classes one short backfill run
    loads: every later JVM maps them instead of loading them one by one,
    which takes seconds off each run's cold start."""
    work = os.path.join(BUILD, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        train = argparse.Namespace(workload="backfill", seed=0, seconds=1, trace=0)
        launch(train, jars, work, os.path.join(work, "result.json"),
               [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"class-data archive: {os.path.getsize(CDS) >> 20} MB")


def build_data():
    gen = os.path.join(HERE, "gen_data.py")
    data = os.path.join(BUILD, "data")
    shutil.rmtree(data, ignore_errors=True)
    run_checked([sys.executable, gen, "tables", os.path.join(data, "tables"), TABLES_SF],
                300, "tables")
    run_checked([sys.executable, gen, "topic", os.path.join(data, "topic"), TOPIC_EVENTS,
                 TOPIC_USERS], 300, "topic")


def ensure_built():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError("no program to build: run from the root of a checkout (build.sbt, src/main)")
    os.makedirs(BUILD, exist_ok=True)
    prog = digest(tree("build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*"))
    stamped("program", prog, build_program)
    jars = jar_dir()
    bench = digest(tree("perfbench/src/*.scala")) + prog
    stamped("bench", bench, lambda: build_bench(jars))
    stamped("data", digest([os.path.join(HERE, "gen_data.py")]) + TABLES_SF + TOPIC_EVENTS + TOPIC_USERS,
            build_data)
    stamped("cds", bench, lambda: build_cds(jars))
    return jars


def launch(args, jars, work, out, cds=None):
    cores = len(os.sched_getaffinity(0))
    cp = ":".join([os.path.join(BUILD, "lib", "bench.jar"), os.path.join(BUILD, "lib", "graft.jar"),
                   os.path.join(jars, "*")])
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + cds + [
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dgraft.stage.cache=off",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(cores),
        "--tables", os.path.join(BUILD, "data", "tables"),
        "--topic", os.path.join(BUILD, "data", "topic"),
        "--work", work, "--out", out, "--launched-ms", str(int(time.time() * 1000))]
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as logf:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(tail(jlog))
            raise BenchError(f"{args.workload}: no result within {RUN_TIMEOUT_S} s (stalled)")
    log(f"jvm: {time.time() - t0:.1f} s")
    for line in open(jlog, errors="replace"):
        if line.startswith("[perfbench] phase"):
            sys.stderr.write(line)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(tail(jlog))
        raise BenchError(f"{args.workload}: JVM exit code {rc}")
    return json.load(open(out))


def tail(path, n=40):
    """The JVM log's first exception lines and its last lines."""
    lines = [l for l in open(path, errors="replace").read().splitlines() if " INFO " not in l]
    first = [l for l in lines if re.search(r"Exception|Error|Caused by", l)][:10]
    return "\n".join(first + ["..."] + lines[-n:]) + "\n"


def oracle_check(work, tables):
    """Each query_mix result against the DuckDB oracle SQL the program
    declares (SparkEntry.oracleSql), by the project's own checker,
    tools/check_oracle.py. Every result without a [PASS] verdict is a
    named failure: a mismatch, an oracle SQL error, a query without
    oracle SQL ([ROWS]), or a checker that stopped before reaching it."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.isfile(checker):
        raise BenchError("no tools/check_oracle.py in the checkout")
    results = os.path.join(work, "results")
    cmd = [sys.executable, checker, tables, results]
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=120)
        out, rc = p.stdout, p.returncode
    except subprocess.TimeoutExpired:
        out, rc = "", "timeout (120 s)"
    verdicts = {q: (v.strip(), detail) for v, q, detail in
                re.findall(r"^\[(PASS|FAIL|ERR |MISS|ROWS)\] (\S+?): (.*)$", out, re.M)}
    failures = []
    queries = sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d)))
    for q in queries:
        if q not in verdicts:
            last = out.strip().splitlines()[-1:] or [""]
            failures.append(f"oracle.{q}: no verdict, check_oracle.py exit {rc}: {last[0]}")
        elif verdicts[q][0] == "ROWS":
            failures.append(f"oracle.{q}: the program declares no oracle SQL for it")
        elif verdicts[q][0] != "PASS":
            failures.append(f"oracle.{q}: {verdicts[q][0]} {verdicts[q][1]}")
    return len(queries), failures


def trace_layers(spans_path, window):
    """Self time per span name, as shares of the window; and the share of
    the window the spans on its blocking path account for."""
    spans = [json.loads(l) for l in open(spans_path)]
    w0, w1 = window
    wall = w1 - w0
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def union(iv):
        tot, cur0, cur1 = 0.0, None, None
        for a, b in sorted(iv):
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    tot += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        return tot + (cur1 - cur0 if cur1 is not None else 0.0)

    def clip(s, lo, hi):
        return max(s["start"], lo), min(s["end"], hi)

    self_ms = {}

    def walk(s, lo, hi):
        """Self time of `s` clipped to its parent's interval [lo, hi], so
        a span that outlasts its parent is not counted twice."""
        a, b = clip(s, lo, hi)
        if b <= a:
            return
        ch = kids.get(s["id"], [])
        inner = [iv for iv in (clip(c, a, b) for c in ch) if iv[1] > iv[0]]
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + (b - a) - union(inner)
        for c in ch:
            walk(c, a, b)

    top = kids.get("window", [])
    for s in top:
        walk(s, w0, w1)
    covered = union([iv for iv in (clip(s, w0, w1) for s in top) if iv[1] > iv[0]])
    return covered / wall, {k: v / wall for k, v in self_ms.items()}


# span names grouped into the program's layers
SELF_GROUPS = {
    "self.source_share": ["consume.publish"],
    "self.stream_share": ["consume.await", "stream.trigger", "stream.latest_offset", "stream.wal_commit",
                          "stream.get_batch", "stream.planning", "stream.add_batch",
                          "stream.commit_offsets"],
    "self.sink_merge_share": ["sink.merge"],
    "self.query_construct_share": ["query.construct"],
    "self.query_plan_share": ["query.plan"],
    "self.query_exec_share": ["query.exec", "query"],
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    try:
        jars = ensure_built()
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            res = launch(args, jars, work, os.path.join(work, "result.json"))
            failures = list(res["failures"])
            attempted = int(res["attempted"])
            metrics = res["metrics"]
            if args.workload == "query_mix":
                t0 = time.time()
                checked, bad = oracle_check(work, os.path.join(BUILD, "data", "tables"))
                log(f"oracle check: {time.time() - t0:.1f} s")
                failures += bad
                attempted += checked
            if args.trace:
                cover, shares = trace_layers(os.path.join(work, "spans.jsonl"), res["window"])
                metrics["trace.cover_share"] = {"value": cover, "unit": "ratio", "n": 1}
                for k, group in SELF_GROUPS.items():
                    metrics[k] = {"value": sum(shares.get(g, 0.0) for g in group),
                                  "unit": "ratio", "n": 1}
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        log(f"error: {e}")
        return 2

    # a per-query metric the spec does not list would be measured and dropped
    listed = {m["name"] for m in spec["per_layer"]}
    unlisted = sorted(k for k in metrics if re.fullmatch(r"query\..+\.s_p50", k) and k not in listed)
    if unlisted:
        log(f"error: BENCHMARK.json lists no {', '.join(unlisted)}")
        return 2
    missing = [n for n in names if n not in metrics]
    if missing:
        log(f"error: the run reported no {', '.join(missing)}")
        return 2
    # every metric, by name, with unit and sample count
    for name, m in sorted(metrics.items()):
        print(f"{args.workload:9s} {name:34s} {m['value']:14.4f} {m['unit']:6s} n={m['n']}")
    print(f"{args.workload:9s} {'fail_ratio':34s} {len(failures) / max(attempted, 1):14.4f} "
          f"ratio  n={attempted}")
    for f in failures:
        print(f"FAILED {f}")
    out = {"correct": not failures, "attempted": attempted, "failed": len(failures),
           "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in names}}
    print(json.dumps(out))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
