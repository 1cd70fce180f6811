"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload enrich --seed 1 --seconds 15 --trace 0

Run from the repository root.  The first run builds the harness and the
program with sbt; later runs start one JVM.  The last line of standard
output is {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics untraced, the per-layer metrics with --trace 1.  See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from stats import median, percentile, warm_passes  # noqa: E402

# Per workload: input sizes, warm-up passes before the measured window,
# and (corpus) the queries of one pass.  Tweets, posts and feeds come in
# the 20:1:1 mix of the sf0.1 design sizes (100k tweets, 5k posts, 5k
# feeds).  README.md says why.
WORKLOADS = {
    "enrich": {
        "sizes": dict(docs=500, events=10000, users=1500, vectors=0,
                      tweets=10000, posts=500, rounds=0),
        "warmup": 3,
    },
    "corpus": {
        "sizes": dict(docs=1000, events=20000, users=300, vectors=500,
                      tweets=0, posts=0, rounds=0),
        # q219's passes keep getting faster for about eight passes while
        # the JIT compiles Catalyst's planning paths
        "warmup": 7,
        "queries": ["q219_lpa_communities"],
        # With two task threads q219 compiles 83 classes, near the 100 of
        # Spark's codegen cache, and some JVMs then recompile 21-46 of them
        # every pass while others compile none; with one thread it
        # compiles 77 and no JVM seen recompiled any.  README.md has the
        # figures.
        "threads": 1,
    },
    "ingest": {
        "sizes": dict(docs=400, events=8000, users=1500, vectors=0,
                      tweets=8000, posts=400, rounds=40),
        "warmup": 2,
    },
}
TASK_THREADS = min(2, os.cpu_count() or 1)  # tasks are short; the other cores plan and JIT
HEAP = "3g"
RUN_LIMIT_S = 170  # set-up to result; a build comes before and is not counted
BUILD_LIMIT_S = 840

# The JDK 17 module opens spark-submit passes, as in the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, log, limit, **kw):
    """Run `cmd` with output to `log`; kill its process group past `limit`
    seconds, or when this process is told to stop.  Returns the exit
    code, or None on timeout."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return False


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "classpath.txt")
    if not os.path.exists(stamp) or sources_newer_than(stamp):
        log = os.path.join(HERE, "target", "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        # resolve from the local caches only; the build needs no network
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.offline=true", "writeClasspath"],
                         log, BUILD_LIMIT_S, cwd=HERE, env=env)
        if rc != 0 or not os.path.exists(stamp):
            fail(f"build failed (exit {rc}); see {log}")
    with open(stamp) as f:
        return f.read().strip()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if not home or os.path.exists(exe) else "java"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="corpus queries, comma-separated "
                    "(default: the benchmark's list)")
    ap.add_argument("--threads", type=int,
                    help="Spark task threads (default: the workload's)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the graft repository", 2)
    wl = dict(WORKLOADS[a.workload])
    a.threads = a.threads or wl.get("threads", TASK_THREADS)
    if a.queries:
        wl["queries"] = a.queries.split(",")

    classpath = build()
    start = time.time()  # a build is not part of set-up
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        data = os.path.join(work, "data")
        tmp = os.path.join(work, "tmp")
        os.makedirs(data)
        os.makedirs(tmp)
        rows = gen.generate(data, a.seed, wl["sizes"])
        gen_s = time.time() - start
        out = os.path.join(work, "result.json")
        cmd = [java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--data", data, "--work", work,
                "--out", out, "--seconds", str(a.seconds),
                "--warmup", str(wl["warmup"]), "--trace", str(a.trace),
                "--threads", str(a.threads),
                "--queries", ",".join(wl.get("queries", [])),
                "--rounds", str(wl["sizes"]["rounds"])]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        log = os.path.join(work, "jvm.log")
        rc = run_bounded(cmd, log, RUN_LIMIT_S - (time.time() - start), env=env)
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness exit {rc}")
        with open(out) as f:
            res = json.load(f)
        print("perfbench: setup %.2f s (inputs %.2f s)" % (
            res["session_ready_epoch_ms"] / 1e3 - start, gen_s), file=sys.stderr)
        print("perfbench: pass walls " + " ".join(
            "%.2f" % sum(o["wall_s"] for o in p["ops"]) for p in res["passes"]),
            file=sys.stderr)
        print("perfbench: pass cpu " + " ".join(
            "%.2f" % sum(o["cpu_s"] for o in p["ops"]) for p in res["passes"]),
            file=sys.stderr)
        if a.trace:
            print("perfbench: pass compiles " + " ".join(
                "%d" % p["layers"].get("codegen.compiles", 0)
                for p in res["passes"]), file=sys.stderr)
        print("perfbench: last pass " + " ".join(
            "%s=%.2f" % (o["name"], o["wall_s"]) for o in res["passes"][-1]["ops"]),
            file=sys.stderr)
        with open(out + ".oracles.json") as f:
            oracles = json.load(f)
        jvm_end = time.time()
        checks = check.run(a.workload, data, work, res, wl, oracles)
        print("perfbench: harness ended at %.2f s, checks took %.2f s" % (
            jvm_end - start, time.time() - jvm_end), file=sys.stderr)
        for name, ok, detail in checks:
            if not ok:
                print(f"perfbench: check failed: {name}: {detail}", file=sys.stderr)
        report = summarize(a, wl, res, rows, start, checks)
        if a.trace:
            traces = os.path.join(HERE, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".trace.json", os.path.join(
                traces, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))


def records_per_pass(workload, rows):
    if workload == "corpus":
        return rows["documents"] + rows["events"] + rows["embeddings"]
    return rows["tweets"] + rows["posts"] + rows["feeds"]


def summarize(a, wl, res, rows, start, checks):
    passes = res["passes"]
    warm = warm_passes(passes, wl["warmup"])
    walls = [sum(o["wall_s"] for o in p["ops"]) for p in warm]
    ops = [o for p in warm for o in p["ops"]]
    failed_ops = sum(1 for o in ops if o["error"] is not None)
    failed_checks = sum(1 for _, ok, _ in checks if not ok)
    if a.workload == "ingest":
        records = sum(rows["round_rows"][p["index"] - wl["warmup"]]
                      for p in warm)
        rec_per_s = records / sum(walls)
    else:
        rec_per_s = records_per_pass(a.workload, rows) / median(walls)
    lat_ms = [o["wall_s"] * 1e3 for o in ops]

    def m(v, unit):
        return {"value": v, "unit": unit}

    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        names = [x["name"] for x in per_layer]
        units = {x["name"]: x["unit"] for x in per_layer}
        metrics = {}
        for n in names:
            if n in res["run_layers"]:
                v = res["run_layers"][n]
            elif any(n in p["layers"] for p in warm):
                v = median([p["layers"].get(n, 0.0) for p in warm])
            else:
                v = 0.0  # a layer this workload never calls
            metrics[n] = m(v, units[n])
        run_s = sum(p["layers"].get("spark.executor_run_s", 0.0) for p in warm)
        metrics["spark.busy_ratio"] = m(run_s / (a.threads * sum(walls)),
                                        "ratio")
        if a.workload == "ingest":
            # every round in the fresh sinks, the last warm-up's included
            offered = sum(rows["round_rows"][:len(passes) - wl["warmup"]])
            metrics["sources.written_ratio"] = m(
                res["facts"]["written_rows"] / offered, "ratio")
    else:
        metrics = {
            "setup_s": m(res["session_ready_epoch_ms"] / 1e3 - start, "s"),
            "cold_s": m(sum(o["wall_s"] for o in passes[0]["ops"]), "s"),
            "wall_s": m(median(walls), "s"),
            "cpu_s": m(median([sum(o["cpu_s"] for o in p["ops"]) for p in warm]), "s"),
            "records_per_s": m(rec_per_s, "rec/s"),
            "batch_p50_ms": m(median(lat_ms), "ms"),
            "batch_p90_ms": m(percentile(lat_ms, 90), "ms"),
            "spark_jobs": m(median([sum(o["jobs"] for o in p["ops"]) for p in warm]), "count"),
            "shuffle_mb": m(median([sum(o["shuffle_bytes"] for o in p["ops"])
                                    for p in warm]) / 1e6, "MB"),
            "heap_mb": m(res["heap_mb"], "MB"),
        }
    return {"correct": failed_checks == 0,
            "attempted": len(ops) + len(checks),
            "failed": failed_ops + failed_checks,
            "metrics": metrics}


if __name__ == "__main__":
    main()
