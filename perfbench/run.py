#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark's JVM program from source with sbt (into `target/` and
`perfbench/target/`) and fills the caches under `perfbench/.work/`; later
runs reuse them while the sources are unchanged.

A run starts one JVM on `local[nproc]`, runs untimed warm-up passes (the
first one's outputs are checked), then timed passes for `--seconds`, and
with `--trace 1` one more pass with the benchmark's tracer attached. The
last line of stdout is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A run in which any operation threw or produced a wrong
output prints its metrics, names the failed operations on stderr and
exits 1. The full record of the run goes to `perfbench/.work/records/`.
See perfbench/README.md.
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

import duckdb

import corpus
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# the engine's read-only test tables (TESTDATA.md)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
# A fixed heap and young generation keep the resident set from following
# the collector's sizing decisions from run to run.
JVM_MEMORY = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
JVM_TIMEOUT_S = 150

# Each workload names its operations and inputs. The seed sets the order
# of the operations within each pass and, for `inverted_index`, the corpus.
WORKLOADS = {
    # compute-bound in `operators`: the brute n-gram Jaccard join over the
    # first 3000 documents (4.5 M pairs) of sf0.1
    "near_dup": {"queries": ["q121_canonical_docs"], "sf": "sf0.1",
                 "subset": {"documents": 3000}, "warmup": 4},
    # the paper's job: manifest -> connector -> index -> 26 letter files;
    # the guard on which the near_dup kernel must not move anything
    "inverted_index": {"corpus": {"files": 512, "bytes": 16 << 20}, "warmup": 5},
}
# `warmup` is the number of untimed passes before the timed ones, about
# 15 s: the first passes of a fresh JVM are up to 3x slower (JIT
# compilation, Spark's code caches). A fixed count, not a fixed time, so
# that every run times passes at the same point of that curve.

END_TO_END = ["wall_s", "setup_s", "cpu_s", "peak_rss_mb"]
PER_LAYER = [
    "queries.build_s", "queries.build_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.scans", "plans.exchanges",
    "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.in_job_s", "spark.driver_gap_s", "spark.launch_delay_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "operators.task_cpu_s", "operators.task_run_s", "operators.gc_s",
    "operators.core_use",
    "sources.input_mb", "sources.input_rows", "sources.output_mb",
    "trace.overhead_s",
]
UNITS = {"_s": "s", "_mb": "MB", "_use": "ratio"}


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def unit(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile the engine and the benchmark with sbt once per source digest;
    return the classpath."""
    stamp = os.path.join(WORK, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    opts = os.environ.get("SBT_OPTS") or " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] +
        [f"-Dsbt.repository.config={p}" for p in [os.path.expanduser("~/.sbt/repositories")]
         if os.path.exists(p)])
    # keep sbt's own state inside the checkout
    opts += (f" -Dsbt.global.base={os.path.join(WORK, 'sbt')}"
             f" -Dsbt.ivy.home={os.path.join(WORK, 'ivy2')}"
             " -Dsbt.server.autostart=false -XX:-UsePerfData")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    log("building the engine and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=700)
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {proc.returncode}); see perfbench/.work/build/sbt.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def java_cmd(classpath, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", *JVM_MEMORY, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def run_jvm(classpath, work, name, args):
    """Start the benchmark's JVM; return (launch epoch s, its JSON result)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"{name}.json")
    args = dict(args, out=out, work=work)
    with open(os.path.join(work, f"{name}.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(java_cmd(classpath, work, args), cwd=work,
                                stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code is None:
        fail(f"{name} JVM did not finish in {JVM_TIMEOUT_S} s; see {logf.name}", 3)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, f"{name}.log")) as f:
            tail = f.read()[-3000:]
        fail(f"{name} JVM exited {code}:\n{tail}", 3)
    with open(out) as f:
        return launched, json.load(f)


def sf_digest(sf_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(name.encode())
                h.update(f.read())
    return h.hexdigest()


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def prepare_tables(spec):
    """The workload's input tables: the first rows (in file order) of some
    tables of a test-data directory, written once."""
    src = os.path.join(TESTDATA, spec["sf"])
    if not os.path.isdir(src):
        fail(f"input tables not found: {src}")
    subset = spec["subset"]
    dst = os.path.join(WORK, "inputs", spec["sf"] + "".join(
        f"-{t}{n}" for t, n in sorted(subset.items())))
    if not os.path.exists(os.path.join(dst, "done")):
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        con = duckdb.connect()
        for table, n in sorted(subset.items()):
            con.execute(f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet') LIMIT {n}) "
                        f"TO '{dst}/{table}.parquet' (FORMAT PARQUET)")
        open(os.path.join(dst, "done"), "w").close()
    return dst


def prepare_corpus(seed, spec):
    """The seeded corpus and its golden index, generated once per seed."""
    root = os.path.join(WORK, "corpus", f"seed{seed}-{spec['files']}f-{spec['bytes']}b")
    done = os.path.join(root, "done.json")
    if not os.path.exists(done):
        t0 = time.time()
        tokens = corpus.generate(seed, root, spec["files"], spec["bytes"])
        with open(done, "w") as f:
            json.dump({"tokens": tokens, "bytes": dir_bytes(os.path.join(root, "files"))}, f)
        log(f"generated corpus for seed {seed} in {time.time() - t0:.1f} s")
    # keep the four most recently used corpora
    os.utime(root)
    parent = os.path.dirname(root)
    used = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in used[4:]:
        shutil.rmtree(d, ignore_errors=True)
    with open(done) as f:
        return root, json.load(f)


def check_outputs(result, golden_dir, oracle_rows):
    """Names of the operations whose output was wrong, with the reason."""
    bad = []
    for p in result["passes"]:
        for op in p["ops"]:
            if op["error"] is not None:
                continue
            if golden_dir:
                why = corpus.compare_letter_files(golden_dir, os.path.join(p["dir"], "index"))
            elif p["kind"] == "warmup" and p["index"] == 0:
                why = oracle.compare(os.path.join(p["dir"], op["name"]), oracle_rows.get(op["name"]))
            else:
                continue
            if why:
                bad.append((f"{p['kind']}-{p['index']}:{op['name']}", why))
    return bad


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one operation that throws (self-test of the failure accounting)")
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt or src/main/scala/graft)")

    load_start = loadavg()
    digest = source_digest()
    classpath = build(digest)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    jvm_args = {"cores": cores, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "warmup": spec["warmup"],
                "inject-failure": int(a.inject_failure)}
    golden = None
    if "queries" in spec:
        sf_dir = prepare_tables(spec)
        jvm_args.update(queries=",".join(spec["queries"]), sf=sf_dir)
        inputs = {"sf_dir": sf_dir, "sf_bytes": dir_bytes(sf_dir)}
    else:
        root, info = prepare_corpus(a.seed, spec["corpus"])
        jvm_args["manifest"] = os.path.join(root, "manifest.txt")
        golden = os.path.join(root, "golden")
        inputs = {"corpus_files": spec["corpus"]["files"], "corpus_bytes": info["bytes"],
                  "corpus_tokens": info["tokens"]}

    log("starting the benchmark JVM")
    launched, result = run_jvm(classpath, work, "run", jvm_args)
    log("benchmark JVM exited")
    setup_s = result["ready_ms"] / 1e3 - launched

    oracle_rows = {}
    if "queries" in spec:
        oracle_rows = oracle.results(result["oracle_sql"], sf_dir, sf_digest(sf_dir),
                                     os.path.join(WORK, "oracle"))
    errors = [(f"{p['kind']}-{p['index']}:{op['name']}", op["error"])
              for p in result["passes"] for op in p["ops"] if op["error"] is not None]
    failures = errors + check_outputs(result, golden, oracle_rows)
    attempted = sum(len(p["ops"]) for p in result["passes"])
    log(f"outputs checked: {len(failures)} of {attempted} operations failed")

    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    if a.trace == 0:
        values = {
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "setup_s": setup_s,
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        names = END_TO_END
    else:
        values = result["layers"]
        names = PER_LAYER
    metrics = {n: {"value": values[n], "unit": unit(n)} for n in names}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "attempted": attempted, "failed": len(failures),
        "failed_frac": len(failures) / attempted,
        "failed_operations": [{"op": n, "why": w} for n, w in failures],
        "metrics": metrics,
        "setup_split_s": {"jvm_start": result["jvm_start_ms"] / 1e3 - launched,
                          "session": (result["session_ms"] - result["jvm_start_ms"]) / 1e3,
                          "first_query": (result["ready_ms"] - result["session_ms"]) / 1e3},
        "passes": [{k: p[k] for k in ("kind", "index", "wall_s", "cpu_s")} | {
            "ops": {o["name"]: o["wall_s"] for o in p["ops"]}} for p in result["passes"]],
        "layers": result["layers"],
        "layers_by_op": result["layers_by_op"],
        "env": {
            "nproc": cores, "master": result["master"],
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "java": result["java_version"], "spark": result["spark_version"],
            "git": git_version(), "source_digest": digest, "inputs": inputs,
        },
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record_path = os.path.join(WORK, "records", f"{run_id}.json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1)
    if a.trace == 1:
        shutil.copy(os.path.join(work, "traced-00", "trace.json"),
                    os.path.join(WORK, "records", f"{run_id}.trace.json"))
    shutil.rmtree(work, ignore_errors=True)

    for n, w in failures:
        log(f"FAILED {n}: {w}")
    log(f"record: {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


def git_version():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
