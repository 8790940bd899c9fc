#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

Run from the root of the repository. The first run builds the engine and the
benchmark from source with sbt (cached by a digest of the sources); inputs are
generated from the seed (cached per seed). Each run starts one JVM on
local[N], N = min(4, nproc), with one closed-loop client. The last line of
standard output is one JSON object: with --trace 0 it holds the end-to-end
metrics, with --trace 1 the per-layer ones. The full artifact (provenance,
input manifest, every sample, check verdicts, spans) is written under
perfbench/work/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_ingest", "corpus_index")
K = 10                      # top-k of the vector probe
RUN_DEADLINE_S = 175        # a run, build excluded, ends within this
BUILD_DEADLINE_S = 800

END_TO_END = [              # name, unit
    ("setup_s", "s"), ("run_s", "s"), ("docs_per_s", "docs/s"),
    ("batch_s_p50", "s"), ("batch_s_p90", "s"), ("peak_rss_mb", "MB")]

PER_LAYER_EXTRA = [         # per-layer metrics computed here, beside the JVM's
    "core.session_start_s", "core.warmup_s", "trace.run_s", "trace.untraced_run_s",
    "trace.overhead_s", "control.calibration_s", "ann.probe_qps", "ann.recall_at_10",
    "ann.exact_s", "etl.stored_bytes_per_input_byte",
    "functions.cosine_hof_ns_per_row", "functions.cosine_f32_ns_per_row",
    "functions.topk_pairs_ns_per_row", "functions.l2sq_f64_ns_per_row",
    "functions.minhash_sigs_ns_per_row", "functions.shingle_hashes_ns_per_row"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log("perfbench: " + msg)
    sys.exit(code)


def source_digest(root):
    """sha256 over the engine's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    paths = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties",
                                             "perfbench/build.sbt", "perfbench/project/build.properties")]
    for base in ("src/main", "perfbench/src"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, base)):
            dirnames.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, work, digest):
    """Compile engine + benchmark once per source digest; return the classpath."""
    cp_file = os.path.join(work, "build", digest + ".classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building engine and benchmark with sbt ...")
    t0 = time.time()
    with open(os.path.join(work, "build", "sbt.log"), "w") as out:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export perfbench/Runtime/fullClasspath"],
                              cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                              stdin=subprocess.DEVNULL, text=True, timeout=BUILD_DEADLINE_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail("build failed; see %s" % os.path.join(work, "build", "sbt.log"))
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log("perfbench: built in %.0f s" % (time.time() - t0))
    return cp


def inputs(work, workload, seed):
    """Generate (or reuse) the seeded inputs; generation is outside every clock.
    The cache key includes the generator's own source, so editing it
    regenerates."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(work, "inputs")
    li = os.path.join(base, "lineitem-" + version)
    if not os.path.exists(os.path.join(li, "manifest.json")):
        shutil.rmtree(li, ignore_errors=True)
        gen.lineitem(li)
    d = os.path.join(base, "%s-%d-%s" % (workload, seed, version))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, li, json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs):
    return {"median": quantile(xs, 0.5), "q1": quantile(xs, 0.25), "q3": quantile(xs, 0.75),
            "n": len(xs), "samples": xs}


def provenance(root, digest, cores, jvm):
    def git(*args):
        try:
            p = subprocess.run(["git", *args], cwd=root, capture_output=True, text=True, timeout=20)
            return p.stdout.strip() if p.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            return None
    sha = git("rev-parse", "HEAD")
    return {"git_sha": sha, "git_dirty": (git("status", "--porcelain") != "") if sha else None,
            "source_sha256": digest, "nproc": len(os.sched_getaffinity(0)), "cores": cores,
            "master": jvm.get("master"), "xmx": jvm.get("jvm_args"),
            "max_heap_mb": jvm.get("max_heap_mb"), "spark": jvm.get("spark"),
            "scala": jvm.get("scala"), "jvm": jvm.get("java"), "python": sys.version.split()[0]}


def run_checks(workload, res, in_dir, manifest, work):
    out = res["outputs"]
    passes = res["passes"] + res["traced_passes"]
    if workload == "etl_ingest":
        return checks.etl_verdicts(checks.snapshot_rows(out["snapshot"]),
                                   [int(p["extra"]["quarantined"]) for p in passes],
                                   [int(p["extra"]["valid"]) for p in passes], manifest["model"])
    with open(out["oracle_sql"]) as f:
        sql = f.read()
    key = manifest["sha256"][:20] + "-" + hashlib.sha256(sql.encode()).hexdigest()[:20]
    cache = os.path.join(work, "oracle", key + ".json")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    oracle = checks.oracle_summary(os.path.join(in_dir, "documents.parquet"), sql, cache)
    queries, tombstoned = checks.vector_inputs(in_dir)
    return (checks.corpus_verdicts(checks.packed_rows(out["packed"]), oracle)
            + checks.vector_verdicts(checks.results_rows(out["results"]), queries, tombstoned, K))


def end_to_end(workload, res, manifest):
    passes = res["passes"]
    runs = [p["seconds"] for p in passes]
    batches = [b for p in passes for b in p["batches"]]
    m = {
        "setup_s": summary([res["setup_s"]]),
        "run_s": summary(runs),
        "docs_per_s": summary([p["docs"] / p["docs_seconds"] for p in passes]),
        "batch_s_p50": {**summary(batches), "median": quantile(batches, 0.5)},
        "batch_s_p90": {**summary(batches), "median": quantile(batches, 0.9)},
        "peak_rss_mb": summary([res["peak_rss_mb"]]),
    }
    # workload-only end-to-end figures (reported, not in the JSON line)
    extra = {"control.calibration_s": summary([res["calibration_s"]])}
    if workload == "etl_ingest":
        extra["stored_bytes_per_input_byte"] = summary(
            [p["extra"]["snapshot_bytes"] / manifest["model"]["live_json_bytes"] for p in passes])
    if workload == "corpus_index":
        extra["index_build_s"] = summary([p["extra"]["index_build_s"] for p in passes])
        extra["probe_qps"] = summary([p["extra"]["probe_queries"] / p["extra"]["probe_s"] for p in passes])
    return m, extra


def per_layer(workload, res, manifest):
    m = {k: float(v) for k, v in res["layers"].items()}
    for k in PER_LAYER_EXTRA:
        m.setdefault(k, 0.0)
    m["core.session_start_s"] = res["session_start_s"]
    m["core.warmup_s"] = res["warmup_s"]
    m["trace.run_s"] = res["traced_passes"][0]["seconds"]
    m["trace.untraced_run_s"] = res["passes"][0]["seconds"]
    m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    m["control.calibration_s"] = res["calibration_s"]
    first = res["traced_passes"][0]
    if workload == "corpus_index":
        m["ann.probe_qps"] = first["extra"]["probe_queries"] / first["extra"]["probe_s"]
    if workload == "etl_ingest":
        m["etl.stored_bytes_per_input_byte"] = (first["extra"]["snapshot_bytes"]
                                                / manifest["model"]["live_json_bytes"])
    return m


def layer_unit(name):
    if name.endswith(("recall_at_10", "per_input_byte")):
        return "ratio"
    for suffix, unit in (("_s", "s"), ("_ns_per_row", "ns"), ("_mb", "MB"), ("_qps", "queries/s"),
                         ("_per_query", "rows")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(BENCH)
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("no engine sources next to the benchmark (expected src/main/scala and build.sbt in %s)" % root, 2)
    work = os.path.join(BENCH, "work")
    os.makedirs(work, exist_ok=True)
    t_start = time.time()
    digest = source_digest(root)
    cp = build(root, work, digest)
    deadline = time.time() + RUN_DEADLINE_S
    phases = {"build_s": time.time() - t_start}
    t0 = time.time()
    in_dir, lineitem_dir, manifest = inputs(work, args.workload, args.seed)
    phases["inputs_s"] = time.time() - t0

    cores = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(work, "runs", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_json = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, in_dir,
            os.path.join(lineitem_dir, "lineitem.parquet"), run_dir, str(args.seconds),
            str(args.trace), str(cores), result_json]
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the JVM did not finish in time; see %s" % os.path.join(run_dir, "jvm.log"))
    if proc.returncode != 0 or not os.path.exists(result_json):
        fail("the JVM failed (exit %d); see %s" % (proc.returncode, os.path.join(run_dir, "jvm.log")))
    with open(result_json) as f:
        res = json.load(f)

    phases["jvm_s"] = time.time() - t0
    t0 = time.time()
    verdicts = run_checks(args.workload, res, in_dir, manifest, work)
    phases["checks_s"] = time.time() - t0
    correct = all(ok for _, ok, _ in verdicts)
    attempted = sum(p["calls"] for p in res["passes"] + res["traced_passes"])

    if args.trace:
        metrics = per_layer(args.workload, res, manifest)
        line = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(metrics.items())}
        table = [(k, layer_unit(k), {"median": v, "q1": v, "q3": v, "n": 1}) for k, v in sorted(metrics.items())]
    else:
        e2e, extra = end_to_end(args.workload, res, manifest)
        line = {k: {"value": e2e[k]["median"], "unit": u} for k, u in END_TO_END}
        table = [(k, u, e2e[k]) for k, u in END_TO_END]
        table += [(k, {"index_build_s": "s", "probe_qps": "queries/s", "control.calibration_s": "s"}
                   .get(k, "ratio"), v) for k, v in extra.items()]

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "provenance": provenance(root, digest, cores, res.get("jvm", {})), "manifest": manifest,
        "correct": correct, "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in verdicts],
        "attempted": attempted, "failed": 0, "metrics": line, "samples": {k: v for k, _, v in table},
        "raw": {k: v for k, v in res.items() if k != "spans"},
        "wall_s": time.time() - t_start, "phases_s": phases,
    }
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace))
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(res.get("spans", []), f)

    print("%-36s %-10s %14s %14s %14s %4s" % ("metric", "unit", "median", "q1", "q3", "n"))
    for name, unit, s in table:
        print("%-36s %-10s %14.6g %14.6g %14.6g %4d" % (name, unit, s["median"], s["q1"], s["q3"], s["n"]))
    for name, ok, detail in verdicts:
        print("check %-30s %s  %s" % (name, "PASS" if ok else "FAIL", detail))
    print("artifact %s.json" % stem)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": 0, "metrics": line}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
