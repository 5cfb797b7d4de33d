#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 25 --trace 0

Builds the harness with the repository's sources when they changed
(sbt, offline), generates the seeded inputs, runs `perfbench.Harness`
in one JVM at local[<cores>], checks every output, writes the full
artifact under perfbench/out/ and prints, as the last line of stdout,
one JSON object with `correct`, `attempted`, `failed` and `metrics`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Exits non-zero when an output is wrong or a step fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen_releases  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ["etl_releases", "queries"]
TABLE_SCALE = 0.01      # lineitem 60 000 rows
RELEASES = 10_000       # one conversion of the dump is one operation
WARM_RELEASES = 300
SETUPS = 5
HEAP = "3g"
DEADLINE_S = 170        # a run must end within 180 s
BUILD_DEADLINE_S = 840

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("peak_heap_mb", "MB")]
PER_LAYER_UNITS = {
    "etl.gunzip_split_s": "s", "etl.read_s": "s", "etl.transform_s": "s",
    "etl.write_s": "s", "etl.tasks": "count", "etl.bytes_in": "bytes",
    "etl.bytes_out": "bytes",
    "tables.load_cold_s": "s", "tables.load_warm_s": "s",
    "ops.build_s": "s", "ops.sink_s": "s",
    "ops.Relational.pass_s": "s", "ops.Relational2.pass_s": "s",
    "ops.StreamingOps.pass_s": "s",
    "catalyst.executions": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_s": "s", "sched.idle_core_s": "s", "sched.task_deser_s": "s",
    "exec.task_s": "s", "exec.gc_s": "s", "exec.peak_mem_mb": "MB",
    "exec.spill_mb": "MB", "xchg.shuffle_read_mb": "MB",
    "xchg.shuffle_write_mb": "MB", "xchg.broadcast_mb": "MB",
    "fs.list_ops": "count", "fs.read_ops": "count", "fs.write_ops": "count",
    "fs.bytes_read_mb": "MB", "fs.bytes_written_mb": "MB",
    "stream.batches": "count", "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.commit_ms": "ms",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "trace.pass_ratio": "x",
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill
    the whole group if it outlives `timeout`. Returns the exit code."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---- build --------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    """The Spark install named by $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must name a Spark install with a jars/ directory")
    return home


def build(stamp_dir, digest):
    """Compile the harness and the repository's main sources with sbt,
    unless the classes for exactly these sources are already built."""
    stamp = os.path.join(stamp_dir, "stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes, 0.0
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH; it builds the harness")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                + opts)
    env["SBT_OPTS"] = opts
    log = os.path.join(stamp_dir, "build.log")
    t0 = time.time()
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                     BENCH, log, BUILD_DEADLINE_S, env)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, time.time() - t0


# ---- metrics ------------------------------------------------------------

def tail_latency(xs):
    """The highest of the 99.9/99/95/90/75/50th percentiles (nearest
    rank) with at least ten executions beyond it; the maximum when
    there are fewer than twenty executions."""
    s = sorted(xs)
    n = len(s)
    for p in (99.9, 99, 95, 90, 75, 50):
        rank = max(1, math.ceil(p * n / 100 - 1e-9))
        if n - rank >= 10:
            return s[rank - 1], p
    return s[-1], 100.0


def check_oracle(check_dir, data_dir, names):
    """Run the repository's oracle gate, tools/check_oracle.py, over the
    check pass's results. Returns {query name: failure text} for each of
    `names` that it did not pass; queries outside `names` (those that
    already failed in the check pass) are ignored."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             check_dir, data_dir],
            cwd=ROOT, capture_output=True, text=True, timeout=60)
        text, code = out.stdout, out.returncode
    except subprocess.TimeoutExpired:
        text, code = "", "timeout"
    passed, failed = set(), {}
    for line in text.splitlines():
        kind, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if kind == "PASS":
            passed.add(name)
        elif kind == "FAIL":
            failed[name] = rest[len(name) + 1:].strip()[:300]
    return {n: failed.get(n, f"no result from the oracle check (exit {code})")
            for n in names if n not in passed}


def hd_median(xs):
    """The Harrell-Davis estimate of the median: a weighted mean of all
    order statistics with Beta((n+1)/2, (n+1)/2) weights. A pass mixes
    queries of very different lengths, so the sample median of its
    latencies jumps between groups of queries when the middle rank falls
    in a gap; this estimate moves smoothly instead."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a = (n + 1) / 2
    logc = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(t):
        return math.exp(logc + (a - 1) * (math.log(t) + math.log1p(-t)))
    # Each order statistic's weight: the Beta mass over (i/n, (i+1)/n),
    # by the midpoint rule.
    m = 64
    ws = [sum(pdf((i + (k + 0.5) / m) / n) for k in range(m)) for i in range(n)]
    return sum(w * x for w, x in zip(ws, s)) / sum(ws)


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind so that the child process groups are killed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    load_before = os.getloadavg()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources at {os.path.join(ROOT, 'src', 'main', 'scala')}; "
            "run from a full checkout of the repository")
    state = os.path.join(BENCH, ".build")
    os.makedirs(state, exist_ok=True)
    digest = source_hash()
    classes, build_s = build(state, digest)
    t_ready = time.time()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        # Inputs, all from the seed.
        t0 = time.time()
        data = os.path.join(work, "tables")
        table_rows = gen_tables.generate(data, a.seed, TABLE_SCALE)
        xml = os.path.join(work, "releases.xml.gz")
        warm_xml = os.path.join(work, "warm.xml.gz")
        expected = shape = None
        if a.workload == "etl_releases":
            expected, shape = gen_releases.generate(xml, a.seed, RELEASES)
            gen_releases.generate(warm_xml, a.seed + 1, WARM_RELEASES)
        gen_s = time.time() - t0

        cores = len(os.sched_getaffinity(0))
        raw_path = os.path.join(work, "raw.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        spark_jars = os.path.join(spark_home(), "jars", "*")
        cmd = ([java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] +
               [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", f"{classes}{os.pathsep}{spark_jars}", "perfbench.Harness",
                f"workload={a.workload}", f"data={data}", f"xml={xml}",
                f"warm_xml={warm_xml}", f"work={work}", f"out={raw_path}",
                f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cores}",
                f"seed={a.seed}", f"setups={SETUPS}"])
        jvm_log = os.path.join(work, "jvm.log")
        t0 = time.time()
        rc = run_bounded(cmd, work, jvm_log,
                         DEADLINE_S - (time.time() - t_ready) - 10)
        jvm_s = time.time() - t0
        if rc != 0 or not os.path.exists(raw_path):
            shutil.copy(jvm_log, os.path.join(out_dir, f"{tag}.jvm.log"))
            die(f"harness failed (exit {rc}); see perfbench/out/{tag}.jvm.log", 1)
        with open(raw_path) as f:
            raw = json.load(f)

        # Correctness: every operation's exception, every query result
        # against the oracle, every conversion against the generator.
        t0 = time.time()
        ops = [o for p in raw["passes"] for o in p["ops"]] + raw["check"]
        failures = [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
        etl_sizes = {}
        if a.workload == "etl_releases":
            bad, etl_sizes = checks.check_releases(os.path.join(work, "etl_out"), expected)
            failures += [f"conversion {k}: {v}" for k, v in bad.items()]
            checked = len(etl_sizes)
        else:
            names = [o["name"] for o in raw["check"] if o["ok"]]
            bad = check_oracle(os.path.join(work, "check"), data, names)
            failures += [f"{k}: oracle mismatch: {v}" for k, v in bad.items()]
            checked = len(names)
        check_s = time.time() - t0
        attempted = len(ops)
        failed = len(failures)

        timed = [p for p in raw["passes"] if not p["traced"]]
        lat = [o["s"] for p in timed for o in p["ops"] if o["ok"]]
        tail, tail_p = tail_latency(lat)
        heaps = [p["heap_after_gc_mb"] for p in timed]
        per_op = {}
        for p in timed:
            for o in p["ops"]:
                per_op.setdefault(o["name"], []).append(o["s"])
        metrics = {
            "setup_s": {"value": statistics.median(raw["setup_s"]), "unit": "s",
                        "samples": raw["setup_s"]},
            # A typical pass: each operation's median over the timed
            # passes, summed, so that one slow pass moves it less than a
            # median of two or three whole passes would.
            "pass_s": {"value": sum(statistics.median(v) for v in per_op.values()),
                       "unit": "s", "passes": len(timed),
                       "pass_wall_s": [p["wall_s"] for p in timed]},
            "query_p50_s": {"value": hd_median(lat), "unit": "s",
                            "estimator": "harrell-davis", "executions": len(lat),
                            "sample_median": statistics.median(lat)},
            "query_tail_s": {"value": tail, "unit": "s", "percentile": tail_p,
                             "executions": len(lat)},
            "fail_frac": {"value": failed / attempted, "unit": "fraction"},
            # After the first timed pass, when every run has done the
            # same work. On `queries` the post-GC heap grows with each
            # pass, so a maximum over all passes would grow with the
            # pass count, that is with speed; every reading is kept.
            "peak_heap_mb": {"value": heaps[0], "unit": "MB", "after_each_pass": heaps,
                             "growth_mb_per_pass": (heaps[-1] - heaps[0]) / max(1, len(heaps) - 1)},
        }
        if a.workload == "etl_releases":
            convert = [o["s"] for p in timed for o in p["ops"] if o["name"] == "convert"]
            out_bytes = statistics.median(etl_sizes.values())
            metrics["releases_per_s"] = {
                "value": RELEASES / statistics.median(convert), "unit": "1/s"}
            metrics["out_bytes_per_in_byte"] = {
                "value": out_bytes / shape["xml_bytes"], "unit": "B/B"}
        layers = raw.get("layers") or {}
        load_after = os.getloadavg()
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "metrics": metrics,
            "per_layer": layers.get("metrics", {}),
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "failures": failures, "outputs_checked": checked,
            "env": dict(raw["env"], git_commit=git_commit(), source_hash=digest,
                        nproc=os.cpu_count(), cores_used=cores, heap_limit=HEAP,
                        load_avg_before=load_before, load_avg_after=load_after,
                        python=sys.version.split()[0]),
            "inputs": {"table_scale": TABLE_SCALE, "table_rows": table_rows,
                       "releases_shape": shape, "releases_expected": expected},
            "phases_s": {"build": build_s, "generate": gen_s, "jvm": jvm_s,
                         "check": check_s, "total": time.time() - t_start},
            "layers": layers, "setup_runs": raw["setup_s"],
            "check_runs": raw["check"], "passes": raw["passes"],
        }
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        spans = raw_path + ".spans.json"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(out_dir, f"{tag}.spans.json"))

        summary = {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}
        print(json.dumps({"artifact": f"perfbench/out/{tag}.json", "workload": a.workload,
                          "metrics": summary, "failures": failures[:20]}))
        if a.trace:
            pl = layers.get("metrics", {})
            final = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            final = {k: {"value": metrics[k]["value"], "unit": u} for k, u in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": final}))
        sys.stdout.flush()
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
