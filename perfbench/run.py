#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads with one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
the checkout's own sources (sbt, offline) into .bench_build/; every run
generates its inputs from the seed into .bench_work/, launches one JVM
with a Spark session of local[<nproc>], measures the workload for
`--seconds`, checks the outputs against independent oracles and prints
one JSON result as the last line of standard output. It exits non-zero
if any correctness check fails or the program cannot be built.

Workloads (the unit of work each one repeats):
  crm_triggers   Triggers.trigger1..5 from the tables to report files
                 published with UpsertSink.upsert; trigger1 also lands a
                 PagedRestSource extract of `quotation`.
  dedup_build    SharedIndex.sidPostings -> DedupQueries.rareOverlaps ->
                 ccLabels over a fresh directory, then the warm consumers
                 x_dedup_clusters and x_dedup_corpus.
  ingest_stream  NearDupIngest.ingestBatch over seeded micro-batches with
                 planted duplicates and a replayed batch id, compacting
                 after every batch.

End-to-end metrics (--trace 0) are shared by all workloads; their
per-workload meaning is in perfbench/layers.json. With --trace 1 the run
records spans around every call into a layer and prints the per-layer
metrics instead; spans are written to .bench_work/results/.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(WORK, "results")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import checks  # noqa: E402
import duckdb  # noqa: E402

HEAP = "3g"
# Spark on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Input sizes and harness parameters per workload.
WORKLOADS = {
    "crm_triggers": {"sf": 0.02},
    "dedup_build": {"base_docs": 500, "near_share": 0.08, "exact_share": 0.02},
    "ingest_stream": {"seed_docs": 1000, "batch_docs": 250, "batches": 8,
                      "exact_share": 0.06, "near_share": 0.06},
}



def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, out_path, env=None) -> int:
    """Runs `cmd` in its own process group, output to `out_path`; on
    timeout the whole group is killed and waited for."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp() -> str:
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp: str, *flags: str) -> list:
    # A fixed young generation: G1's adaptive young sizing otherwise swings
    # the peak RSS by +-15% between identical runs; with it fixed, peak RSS
    # moves with the old generation, i.e. with live data.
    return ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Xmn512m", *flags, "-cp", cp,
            "graft.perfbench.Main"]


def build(deadline: float) -> tuple:
    """Compiles the program and the harness, then trains the JVM's
    class-data-sharing archive on one operation of every workload (tiny
    inputs), which takes several seconds of class loading off every
    run's start. Returns (classpath, archive flags)."""
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    jsa = os.path.join(BUILD, "classes.jsa")
    stamp = source_stamp()
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        shutil.rmtree(BUILD, ignore_errors=True)
        os.makedirs(BUILD)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log("building the program (sbt, offline)")
        t0 = time.time()
        build_log = os.path.join(BUILD, "build.log")
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                      HERE, max(60, deadline - time.time()), build_log, env)
        if rc != 0 or not os.path.exists(cp_file):
            log(f"build failed (rc={rc}):\n{tail(build_log)}")
            sys.exit(2)
        cp = ":".join(open(cp_file).read().split("\n"))
        train = os.path.join(BUILD, "train")
        generate("crm_triggers", 0, f"{train}/crm_triggers", sf=0.001)
        generate("dedup_build", 0, f"{train}/dedup_build", base_docs=50)
        generate("ingest_stream", 0, f"{train}/ingest_stream", seed_docs=100, batch_docs=20,
                 batches=4)
        os.makedirs(f"{train}/work/tmp")
        rc = run_proc(java_cmd(cp, f"-XX:ArchiveClassesAtExit={jsa}",
                               f"-Djava.io.tmpdir={train}/work/tmp")
                      + ["--train", train, "--input", train, "--work", f"{train}/work",
                         "--cores", str(len(os.sched_getaffinity(0)))],
                      train, max(60, deadline - time.time()), os.path.join(BUILD, "train.log"))
        if rc != 0 or not os.path.exists(jsa):
            log(f"class-data-sharing archive not built (rc={rc}); runs start without it")
        shutil.rmtree(train, ignore_errors=True)
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = ":".join(open(cp_file).read().split("\n"))
    return cp, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def generate(workload: str, seed: int, inp: str, **sizes) -> dict:
    p = dict(WORKLOADS[workload], **sizes)
    if workload == "crm_triggers":
        return gen.crm_tables(seed, p["sf"], inp)
    if workload == "dedup_build":
        return gen.dedup_corpus(seed, p["base_docs"], p["near_share"], p["exact_share"], inp)
    m = gen.ingest_stream(seed, p["seed_docs"], p["batch_docs"], p["batches"],
                          p["exact_share"], p["near_share"], inp)
    with open(os.path.join(inp, "steps.tsv"), "w") as f:
        for b in m["batches"]:
            f.write(f"{b['batch_id']}\t{b['file']}\t{b['docs']}\n")
    return m


def cpu_sample() -> tuple:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def host(window: float = 0.25) -> dict:
    """1-minute loadavg and CPU steal over a short window."""
    s0, t0 = cpu_sample()
    time.sleep(window)
    s1, t1 = cpu_sample()
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"loadavg": load, "steal_pct": 100.0 * (s1 - s0) / max(1, t1 - t0)}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_pct(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, as (percentile, value); None below 20 samples."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None


def growth(xs):
    """Median of the last quarter over the median of the first quarter;
    None below two samples."""
    q = max(1, len(xs) // 4)
    return median(xs[-q:]) / median(xs[:q]) if len(xs) >= 2 else None


def metrics(workload: str, rec: dict) -> tuple:
    """The shared end-to-end metrics and the workload's own named ones."""
    s, v = rec["samples"], rec["values"]
    named = {}
    if workload == "crm_triggers":
        unit, step = s.get("refresh_s", []), s.get("trigger2_s", [])
        named.update({"refresh_s": median(unit), "trigger2_s": median(step)})
        thr = len(unit) * v.get("reports_per_pass", 0) / max(1e-9, sum(unit))
    elif workload == "dedup_build":
        unit, step = s.get("build_s", []), s.get("consume_s", [])
        named.update({"build_s": median(unit), "consume_s": median(step)})
        thr = v.get("docs", 0) / max(1e-9, median(unit))
    else:
        unit, step = s.get("batch_s", []), s.get("compact_s", [])
        t = tail_pct(unit)
        named.update({"batch_s.p50": median(unit),
                      "batch_s.tail": t[1] if t else None,
                      "batch_s.tail_pct": t[0] if t else None,
                      "batch_growth": growth(unit),
                      "compact_s": median(step),
                      "ingest_docs_per_s": v.get("ingest_docs_per_s", 0.0),
                      "space_amp": v.get("space_amp", 0.0)})
        thr = v.get("ingest_docs_per_s", 0.0)
    named["samples"] = len(unit)
    e2e = {"setup_s": rec["setup_s"],
           "peak_rss_mb": v.get("peak_rss_mb", 0.0),
           "op_s": median(unit),
           "focus_s": median(step),
           "throughput": thr,
           "space_amp": v.get("space_amp", 0.0)}
    return e2e, named


def stored_text_bytes(inp: str, rec: dict) -> int:
    """UTF-8 bytes of the text of every document the ingest store holds."""
    return duckdb.sql(f"""
        SELECT sum(strlen(text)) FROM read_parquet(['{inp}/seed.parquet', '{inp}/batch-*.parquet'])
        WHERE doc_id IN (SELECT doc_id FROM '{rec["check"]["store_ids"]}/*.parquet')""").fetchone()[0]


def declared(metrics: list, values: dict) -> dict:
    """The metrics BENCHMARK.json declares, with their units, in its order."""
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in metrics}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found under {PROGRAM_SRC}")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None or "SPARK_HOME" not in os.environ:
        log("sbt, java and a Spark installation named by SPARK_HOME are required")
        return 2
    cp, cds = build(started + 840)
    build_s = time.time() - started

    cores = len(os.sched_getaffinity(0))
    host_start = host()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    for d in (inp, work, os.path.join(work, "tmp"), RESULTS):
        os.makedirs(d, exist_ok=True)
    t_gen = time.time()
    manifest = generate(a.workload, a.seed, inp)
    gen_s = time.time() - t_gen

    out = os.path.join(run_dir, "record.json")
    cmd = (java_cmd(cp, *cds, f"-Djava.io.tmpdir={work}/tmp")
           + ["--workload", a.workload, "--input", inp, "--work", work, "--out", out,
              "--seconds", str(a.seconds), "--cores", str(cores), "--trace", str(a.trace),
              "--seed", str(a.seed)])
    jvm_log = os.path.join(run_dir, "jvm.log")
    budget = (started + (900 if build_s > 30 else 175)) - time.time() - 15
    t_jvm = time.time()
    rc = run_proc(cmd, work, max(30, budget), jvm_log)
    jvm_s = time.time() - t_jvm
    if rc != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed (rc={rc}):\n{tail(jvm_log)}")
        return 3
    rec = json.load(open(out))

    t_check = time.time()
    problems = checks.run(a.workload, rec, manifest, inp)
    check_s = time.time() - t_check
    for e in rec["errors"]:
        log(f"operation failed: {e}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    correct = not problems and rec["failed"] == 0

    if a.workload == "ingest_stream" and "store_ids" in rec["check"]:
        rec["values"]["space_amp"] = rec["values"]["disk_bytes"] / stored_text_bytes(inp, rec)
    e2e, named = metrics(a.workload, rec)
    if "docs" in rec["values"]:
        manifest["docs"] = int(rec["values"]["docs"])
    named["fail_ratio"] = rec["failed"] / max(1, rec["attempted"])
    host_end = host()
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "named": named, "sizes": {k: v for k, v in manifest.items()
                                      if k not in ("batches", "dropped_ids")},
            "host": {"nproc": cores, "heap_max_mb": rec["heap_max_mb"],
                     "start": host_start, "end": host_end},
            "timing_s": {"build": build_s, "input_gen": gen_s, "jvm": jvm_s,
                         "workload": rec["run_s"], "check": check_s,
                         "total": time.time() - started},
            "window_ops": rec["window_ops"]}
    last = os.path.join(RESULTS, f"untraced-{a.workload}-{a.seed}.json")
    if a.trace:
        layer = dict(rec["per_layer"])
        layer["run.fail_ratio"] = named["fail_ratio"]
        layer["trace.op_s"] = e2e["op_s"]
        if os.path.exists(last):
            base = json.load(open(last))["op_s"]
            info["trace_overhead"] = e2e["op_s"] / base - 1 if base else None
        for k in ("spans", "stages"):
            if k in rec["check"]:
                shutil.copy(rec["check"][k], RESULTS)
        out_metrics = declared(spec["per_layer"], layer)
    else:
        with open(last, "w") as f:
            json.dump(e2e, f)
        out_metrics = declared(spec["end_to_end"], e2e)
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": out_metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
