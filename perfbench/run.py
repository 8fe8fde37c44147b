"""perfbench: end-to-end benchmark of the cleaning engine and the LLM
corpus-preparation path.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source (scalac from the Spark distribution's jars,
into .bench_build/); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed (gen.py) once per seed,
outside any timed region. One JVM runs the workload (perfbench.Main);
its outputs are then checked independently (check.py). The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics of a traced run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("clean_requests", "corpus_prep")
JVM_HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME's, else that of the first spark-submit on the PATH that
    has one."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and all(glob.glob(os.path.join(jars, j))
                        for j in ("spark-sql_*.jar", "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no engine sources under src/main/scala: run from a source checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build():
    """Compile engine + harness into .bench_build/classes unless up to date."""
    jars = spark_jars()
    srcs = sources()
    res_dir = os.path.join(ROOT, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_dir, "**/*"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"building {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    compiler = ":".join(sorted(sum((glob.glob(p) for p in compiler.split(":")), [])))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def jvm(classes, args, tmpdir, trace):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmpdir}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    if trace:
        # whole call sites, so a job can be attributed to the graft module
        # and operator that issued it
        cmd.append("-Dspark.callstack.depth=1000")
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + ":" + os.path.join(spark_jars(), "*"), "perfbench.Main"] + args
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
    if r.returncode != 0:
        raise SystemExit(f"harness exited with {r.returncode}")


def end_to_end(workload, raw, truth, verdict):
    """The end-to-end metrics from the harness record and the checker."""
    if workload == "clean_requests":
        # one latency per upload of the stream: the median of its sends
        sends = {}
        for i, w in zip(raw["latency_req"], raw["latency_s"]):
            sends.setdefault(i, []).append(w)
        lat = {i: statistics.median(ws) for i, ws in sends.items()}
        ops = list(lat.values())
        # row throughput of the largest upload, where per-row cost shows most
        big = max(lat, key=lambda i: truth["requests"][i]["rows_in"])
        rows_per_s = truth["requests"][big]["rows_in"] / lat[big]
    else:
        ops = raw["op_s"]
        rows_per_s = truth["docs_in"] / statistics.median(raw["docs_pass_s"])
    return {
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "rows_per_s": (rows_per_s, "rows/s"),
        # an operation is an upload (clean_requests) or a stage (corpus_prep).
        # The 11 of a run differ in kind, so their median would read the one
        # that sorts sixth; the geometric mean weighs each one's change alike.
        "op_gmean_s": (math.exp(statistics.fmean(map(math.log, ops))), "s"),
        "dup_recall": (verdict["dup_recall"], "ratio"),
    }


def per_layer(raw, verdict, truth, names):
    layers = dict(raw.get("layers", {}))
    layers["trace.overhead_s"] = raw["trace_overhead_s"]
    if layers.get("sim.ivf_query_s"):
        layers["sim.queries_per_s"] = truth["emb_queries"] / layers["sim.ivf_query_s"]
    layers.update(verdict.get("layers", {}))
    out = {}
    for name, unit in names:
        out[name] = (float(layers.get(name, 0.0)), unit)
    return out


def trace_overhead(workload, raw):
    key = {"clean_requests": "latency_s", "corpus_prep": "docs_pass_s"}[workload]
    plain, traced = raw.get(key, []), raw.get("traced_" + key, [])
    if not plain or not traced:
        return 0.0
    return statistics.median(traced) - statistics.median(plain)


def harness(workload, seed, seconds, trace, run_dir):
    """Build, generate the seed's inputs, run the JVM harness with its
    outputs under `run_dir`; return (harness record, truth, inputs dir)."""
    classes = build()
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = gen.generate(workload, seed,
                          os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}"))
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    if workload == "clean_requests":
        with open(os.path.join(inputs, "requests.json")) as f:
            truth["requests"] = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    jvm(classes, ["--workload", workload, "--inputs", inputs, "--out", run_dir,
                  "--seconds", str(seconds), "--trace", str(trace), "--result", result],
        run_dir, trace)
    with open(result) as f:
        return json.load(f), truth, inputs


def cpu_ticks():
    """(stolen, total) CPU ticks of this machine so far, from /proc/stat:
    time other tenants' work took from this host's processors."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    try:
        raw, truth, inputs = harness(a.workload, a.seed, a.seconds, a.trace, run_dir)
        log(f"harness done at {time.time() - t0:.1f} s")
        verdict = check.check(a.workload, inputs, run_dir, truth, raw)
        log(f"checked at {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after, ticks_after = os.getloadavg(), cpu_ticks()
    stolen = (ticks_after[0] - ticks_before[0]) / max(ticks_after[1] - ticks_before[1], 1)

    raw["trace_overhead_s"] = trace_overhead(a.workload, raw)
    if a.trace == 0:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = end_to_end(a.workload, raw, truth, verdict)
        metrics = {n: values[n] for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = per_layer(raw, verdict, truth, names)
    problems = list(verdict["problems"])
    if raw.get("persisted_rdds", 0) != 0:
        problems.append(f"{raw['persisted_rdds']} RDDs still persisted at the end of the run")
    if raw.get("overfull_phases"):
        problems.append(f"attributed job time exceeds wall time in {raw['overfull_phases']}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "load_before": load_before, "load_after": load_after,
              "cpu_stolen_share": round(stolen, 4),
              "persisted_rdds": raw.get("persisted_rdds"), "errors": raw.get("errors"),
              "problems": problems, "setup_s": raw["setup_s"],
              "jobs_by_module": raw.get("jobs_by_module")}
    log("run record:", json.dumps(record))
    out = {"correct": not problems, "attempted": int(raw["attempted"]),
           "failed": int(raw["failed"]),
           "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
