#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source with the Scala compiler that ships in the
Spark jars, derives the 10x data when a workload needs it, and caches
oracle answers, all under .bench_build/. The sf0.1 tables are read from
perfbench/data/. Every run then starts one JVM for the workload,
checks outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
of BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
A traced run also writes its span tree to .bench_build/trace/.
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
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
DEADLINE_S = 150  # the harness JVM of a gated workload; the run must end within 180 s
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark install named by $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        sys.exit(f"[perfbench] Spark jars not found at '{jars}'; set SPARK_HOME")
    return jars


def build():
    """Compiles src/main/scala plus the harness into .bench_build/build,
    unless the sources are unchanged since the last build. Returns the
    class directory."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        sys.exit("[perfbench] no program sources under src/main/scala")
    harness = sources(os.path.join(HERE, "src"))
    jars = spark_jars()
    stamp = digest(program + harness, "\n".join(sorted(os.listdir(jars))))
    out = os.path.join(WORK, "build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", cp] + program + harness,
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def java_cmd(classes, cores, heap):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size, pre-touched heap, so the footprint (VmHWM) does not
    # depend on how much of the heap G1 happened to touch before a collection
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss4m",
             "-XX:-UsePerfData"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
               "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
               "graft.perfbench.Main", "--cores", str(cores)])


def run_java(cmd, log_path, deadline):
    """Runs the harness JVM in its own process group, killing the whole
    group if it outlives the deadline or the runner is interrupted."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.exit(f"[perfbench] harness failed ({rc}); log tail:\n{tail}")


def stamped(path, stamp, make):
    """Builds `path` with `make` unless it was built from the same stamp."""
    sf = path + ".stamp"
    if os.path.exists(sf) and open(sf).read() == stamp:
        return path
    shutil.rmtree(path, ignore_errors=True)
    make()
    with open(sf, "w") as f:
        f.write(stamp)
    return path


def prepare(classes, cores, need_x10):
    """The data the workloads read: the sf0.1 tables kept in
    perfbench/data, and the 10x directory derived from them once per
    checkout."""
    data = CONFIG["data"]
    base = os.path.join(HERE, "data", data["base"])
    dirs = {"base": base}
    if need_x10:
        probe = os.path.join(ROOT, "src", "main", "scala", "graft", "ScaleProbe.scala")
        tables = sorted(os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet"))
        x10 = os.path.join(WORK, "data", f"x{data['mult']}")
        stamped(x10, digest([probe] + tables, str(data["mult"])), lambda: run_java(
            java_cmd(classes, cores, "3g") + [
                "--workload", "prepare", "--seed", "0", "--seconds", "0", "--trace", "0",
                "--work", WORK, "--base", base, "--data", x10, "--mult", str(data["mult"])],
            os.path.join(WORK, "prepare.log"), time.time() + 600))
        dirs["x10"] = x10
    return dirs


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    w = CONFIG["workloads"][a.workload]

    t0 = time.time()
    classes = build()
    dirs = prepare(classes, a.cores, w.get("args", {}).get("data") == "x10")
    prep_s = time.time() - t0
    deadline = time.time() + w.get("deadline_s", DEADLINE_S)

    run = f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}"
    rdir = os.path.join(WORK, "runs", run)
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", rdir, "--base", dirs["base"],
            "--out", os.path.join(rdir, "result.json")]
    if a.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        args += ["--trace-out", os.path.join(WORK, "trace", run + ".json")]
    steal0 = steal_s()
    t1 = time.time()
    if "corpus" in w:
        c = w["corpus"]
        corpus = os.path.join(rdir, "corpus")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"), corpus,
                        str(c["files"]), str(c["mb"]), str(a.seed)], check=True)
        args += ["--corpus", corpus]
    gen_s = time.time() - t1
    for k, v in w.get("args", {}).items():
        args += [f"--{k}", dirs.get(v, str(v)) if isinstance(v, str) else str(v)]
    run_java(java_cmd(classes, a.cores, "2g") + args,
             os.path.join(rdir, "harness.log"), deadline)
    res = json.load(open(os.path.join(rdir, "result.json")))

    failed, failures = res["failed"], list(res["failures"])
    if res["checks"]:
        sys.path.insert(0, HERE)
        import oracle
        data_dir = dirs[w["args"]["data"]]
        sql = json.load(open(os.path.join(rdir, "results", "oracle_sql.json")))
        bad = oracle.check(ROOT, data_dir, os.path.join(WORK, "oracle", os.path.basename(data_dir)),
                           [(c["name"], c["dir"]) for c in res["checks"]], sql)
        failed += len(bad)
        failures += bad
    for f in failures:
        log(f"FAILED: {f}")

    kind = "per_layer" if a.trace else "end_to_end"
    measured = res["layer"] if a.trace else res["e2e"]
    missing = [m["name"] for m in bench[kind] if m["name"] not in measured]
    if missing and not a.trace:
        sys.exit(f"[perfbench] harness did not report {missing}")
    for name in missing:  # a layer this workload does not enter
        measured[name] = 0.0
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in bench[kind]}
    diag = dict(res["diag"], workload=a.workload, seed=a.seed, trace=a.trace,
                prepare_s=round(prep_s, 3), input_gen_s=round(gen_s, 3),
                steal_s=round(steal_s() - steal0, 2))
    print(json.dumps({"diagnostics": diag}))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps({"run": run, "metrics": metrics, "attempted": res["attempted"],
                            "failed": failed, "diag": diag}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
