#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft source tree. The first run builds graft and
the benchmark's Scala program from source with sbt; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from the
seed, runs one workload in a closed loop with one client for S seconds,
checks every output, and prints one JSON line as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Everything it writes stays under graftbench/.work; the full artifact of
each run, with its host block, lands in graftbench/.work/artifacts.
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

sys.dont_write_bytecode = True  # leave nothing beside the sources
import check  # noqa: E402
import gen  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# The JVM is cut after this long, whatever --seconds says.
RUN_TIMEOUT_S = 165

# graft's own build passes these to Spark on JDK 17 (build.sbt jdk17AddOpens).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

WORKLOADS = {
    # input rows of one job, from the generator's meta
    "rank-session": "lineitem_rows",
    "dedup-pipeline": "docs",
}


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads: graft's sources and build
    files and the benchmark's Scala program."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(tree):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile graft and the benchmark's Scala program once per source
    digest; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build", f"{digest[:16]}.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's own global state goes under the work directory too
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}", "export Runtime/fullClasspath"]
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=logf,
                           text=True, timeout=850)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(classpath, tmp):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classpath, "graftbench.Main"])


def run_jvm(cmd, env, logpath, deadline):
    with open(logpath, "a") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=logf)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"graftbench: JVM timed out, see {logpath}")
        finally:
            # on a timeout, or when this process is told to stop
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise SystemExit(f"graftbench: JVM exited {rc}, see {logpath}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rec, spans, meta, workload, outputs):
    """Per-layer metrics of a traced run. A layer the workload does not
    use reads 0."""
    jobs = rec["jobs"]
    warm_untraced = of_kind(jobs, "warm", False)
    warm_traced = [j["index"] for j in of_kind(jobs, "warm", True)]
    cold_traced = [j["index"] for j in of_kind(jobs, "cold", True)]
    by_job = {j: [s for s in spans if s["job"] == j] for j in {s["job"] for s in spans}}
    m = {}

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def per_job(fn, among=warm_traced):
        return median([fn(by_job.get(j, [])) for j in among])

    def named(ss, prefix):
        return [s for s in ss if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def span_s(name, probe=None, among=warm_traced):
        return per_job(lambda ss: sum(dur(s) for s in ss if s["name"] == name and
                                      probe in (None, s["probe"])), among)

    def span_sum(prefix, key):
        return per_job(lambda ss: sum(s[key] for s in named(ss, prefix) if s["name"] != "job"))

    cores = int(rec["host"]["spark_cores"])
    m["session.create_s"] = median(rec["create_s"])
    m["session.first_setup_s"] = rec["setup_s"][0]
    m["session.first_job_s"] = jobs[0]["wall_s"]

    m["tables.scan_s"] = span_s("tables.scan")
    m["tables.scan_tasks"] = span_sum("tables.scan", "tasks")
    m["tables.rows_read"] = (median([j["input_records"] for j in warm_untraced])
                             if workload == "rank-session" else 0)

    m["webgraph.dedup_s"] = span_s("webgraph.dedup")
    m["webgraph.edges_in"] = rec["notes"].get("webgraph.edges_in", 0)
    m["webgraph.edges_kept"] = rec["notes"].get("webgraph.edges_kept", 0)
    m["webgraph.host_edges"] = rec["notes"].get("webgraph.host_edges", 0)
    m["webgraph.shuffle_mb"] = span_sum("webgraph", "shuffle_mb")
    m["functions.url_host_s"] = span_s("functions.url_host")

    for algo in ("linkrank", "trustrank", "hostrank"):
        m[f"graph.{algo}_s"] = span_s(f"graph.{algo}")
    for k in ("jobs", "stages", "task_s", "gc_s", "spill_mb", "shuffle_mb"):
        m[f"graph.{k}"] = span_sum("graph", k)
    m["graph.peak_storage_mb"] = per_job(
        lambda ss: max([s["peak_storage_mb"] for s in named(ss, "graph")], default=0))

    docs = meta.get("docs", 0)
    for kernel in ("shingle", "minhash", "simhash"):
        t = span_s(f"plans.{kernel}")
        m[f"plans.{kernel}_rows_per_s"] = docs / t if t > 0 else 0
    m["plans.task_s"] = span_sum("plans", "task_s")

    m["dedup.exact_s"] = span_s("dedup.exact")
    m["dedup.minhash_pairs_s"] = span_s("dedup.minhash_pairs")
    m["dedup.decontaminate_s"] = span_s("dedup.decontaminate")
    m["dedup.shuffle_mb"] = span_sum("dedup", "shuffle_mb")
    m.update(check.dedup_counts(outputs, meta) if workload == "dedup-pipeline" else
             {"dedup.candidate_pairs": 0, "dedup.confirmed_pairs": 0,
              "dedup.candidate_yield": 0, "dedup.planted_recall": 0})
    m["ann.knn_s"] = span_s("ann.knn")
    m["ann.pairs_scored"] = meta.get("queries", 0) * max(docs - 1, 0)

    m["sessioncache.builds"] = per_job(lambda ss: sum(
        s["memo_builds"] for s in ss if s["name"].startswith("queries.") and not s["probe"]),
        cold_traced)
    hits = [j["memo_touches"] - j["memo_builds"] for j in warm_untraced]
    touches = [j["memo_touches"] for j in warm_untraced]
    m["sessioncache.hits"] = median(hits)
    m["sessioncache.hit_ratio"] = median(hits) / median(touches) if median(touches) > 0 else 0
    m["sessioncache.storage_mb"] = rec["memo_storage_mb"]
    if not rec["memo_counters"]:
        for k in ("builds", "hits", "hit_ratio"):
            m[f"sessioncache.{k}"] = -1

    m["checkpoints.drain_s"] = span_s("checkpoints.drain", probe=False)
    m["checkpoints.leaked_mb"] = rec["leaked_mb"]

    for key in rec["rank_keys"]:
        name = f"queries.{key}"
        m[f"query.{key}.cold_s"] = span_s(name, among=cold_traced)
        m[f"query.{key}.warm_s"] = span_s(name)

    for k in ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "spill_mb", "failed_tasks"):
        m[f"spark.{k}"] = median([j[k] for j in warm_untraced])
    job_s = median([j["wall_s"] for j in warm_untraced])
    m["spark.core_busy_ratio"] = m["spark.task_s"] / (job_s * cores) if job_s > 0 else 0

    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = per_job(lambda ss, layer=layer: self_time(ss, layer))
    # a traced job minus its probe calls, against an untraced job
    traced_s = per_job(lambda ss: sum(dur(s) for s in ss if s["name"] == "job") -
                       sum(dur(s) for s in ss if s["probe"]))
    m["trace.overhead_s"] = traced_s - job_s
    return m


SELF_LAYERS = ["job", "tables", "webgraph", "functions", "graph", "plans", "dedup", "ann",
               "checkpoints", "queries"]


def self_time(spans, layer):
    """A layer's self time in one job: its spans' durations minus the part
    their child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    total = 0.0
    for s in spans:
        if s["name"].split(".")[0] != layer:
            continue
        covered = sum(c["end_ns"] - c["start_ns"] for c in children.get(s["id"], []))
        total += (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return total


def of_kind(jobs, kind, traced):
    """Jobs of one kind: "first" (the JVM's first job), "cold" (after
    SessionCache.clear) or "warm"."""
    return [j for j in jobs if j["kind"] == kind and j["traced"] == traced]


def end_to_end(rec, rows):
    warm = of_kind(rec["jobs"], "warm", False)
    job_s = median([j["wall_s"] for j in warm])
    return {
        "setup_s": median(rec["setup_s"]),
        "cold_job_s": median([j["wall_s"] for j in of_kind(rec["jobs"], "cold", False)]),
        "job_s": job_s,
        "rows_per_s": rows / job_s,
        "shuffle_mb": median([j["shuffle_mb"] for j in warm]),
        "peak_storage_mb": median([j["peak_storage_mb"] for j in warm]),
    }


UNITS = {"setup_s": "s", "cold_job_s": "s", "job_s": "s", "rows_per_s": "rows/s",
         "shuffle_mb": "MB", "peak_storage_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_rows_per_s", "rows/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_ratio", "ratio"), ("_yield", "ratio"), ("_recall", "ratio")):
        if last.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("graftbench: run from the root of a graft source tree "
                         "(no src/main/scala/graft or build.sbt here)")
    digest = source_digest()
    classpath = build(digest)
    deadline = time.time() + RUN_TIMEOUT_S

    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}")
    meta = gen.generate(a.workload, a.seed, data)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp)
    jvm = java_cmd(classpath, tmp)
    logpath = os.path.join(run_dir, "jvm.log")
    try:
        run_jvm(jvm + ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", data, "--out", run_dir], env, logpath, deadline)
        with open(os.path.join(run_dir, "record.json")) as f:
            rec = json.load(f)
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(x) for x in f if x.strip()]
        outputs = check.read_outputs(os.path.join(run_dir, "first"))
        problems = check.verify(a.workload, data, meta, rec["oracle"], outputs)
        verified = rec["jobs"][0]["digest"] if not problems else None
        failed = sum(1 for j in rec["jobs"] if j["error"] or j["digest"] != verified)
        for j in rec["jobs"]:
            if j["error"]:
                problems.append(f"job {j['index']}: {j['error'][:300]}")
            elif verified and j["digest"] != verified:
                problems.append(f"job {j['index']}: output differs from the verified output")
        for p in problems:
            log(p)

        if not of_kind(rec["jobs"], "warm", False) or not of_kind(rec["jobs"], "cold", bool(a.trace)):
            raise SystemExit("graftbench: no cold and warm job finished within the loop's time limit")
        rows = meta[WORKLOADS[a.workload]]
        if a.trace:
            metrics = layer_metrics(rec, spans, meta, a.workload, outputs)
        else:
            metrics = end_to_end(rec, rows)
        attempted = len(rec["jobs"])
        host = dict(rec["host"], seed=a.seed, source_sha=digest, git_sha=git_sha(),
                    inputs=gen.SIZES[a.workload])
        result = {"correct": failed == 0 and not problems, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}
        artifact = dict(result, workload=a.workload, trace=a.trace, seconds=a.seconds,
                        error_rate=failed / attempted, problems=problems, host=host,
                        input_rows=rows, setups_s=rec["setup_s"],
                        jobs=[{k: j[k] for k in ("kind", "traced", "wall_s", "cpu_s", "gc_s",
                                                 "shuffle_mb", "peak_storage_mb")}
                              for j in rec["jobs"]])
        art_dir = os.path.join(WORK, "artifacts", a.workload)
        os.makedirs(art_dir, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        art = os.path.join(art_dir, f"{stamp}-s{a.seed}-t{a.trace}-{os.getpid()}.json")
        with open(art, "w") as f:
            json.dump(artifact, f, indent=1)
        with open(art[:-5] + ".spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def git_sha():
    """HEAD of the checkout, if it is a git work tree; git does not look
    above the checkout for one."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()
