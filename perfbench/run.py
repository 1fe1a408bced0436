"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload fts_report --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark (perfbench/build.sh) when the sources
changed, runs one JVM over the fixtures in perfbench/fixtures/ with a
private warehouse, local and temp directory under .bench_build/ (removed on
exit), and prints the run record followed by one result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics and writes the spans to
.bench_build/traces/.

Other modes: --self-test (sf0.001 smoke run of every workload, with a
deliberately failing key) and --pin (rewrite the pinned results).
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170

END_TO_END_UNITS = {
    "setup_s": "s", "queries_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "failed_frac": "ratio", "retained_heap_mb": "MB"}
PER_LAYER_UNITS = {
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.build_task_cpu_s": "s",
    "plan.analysis_s": "s", "plan.optimize_s": "s", "plan.physical_s": "s",
    "plan.codegen_s": "s", "plan.exchanges": "count", "plan.scans": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.cpu_ratio": "ratio", "exec.scan_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.fetch_wait_s": "s", "exec.spill_mb": "MB",
    "exec.gc_s": "s", "exec.peak_mem_mb": "MB", "caches.sweep_s": "s",
    "caches.persisted_rdds": "count", "caches.persisted_mb": "MB",
    "tables.written_mb": "MB",
    "trace.pass_untraced_s": "s", "trace.pass_traced_s": "s",
    "trace.overhead_frac": "ratio", "trace.layer_coverage": "ratio"}
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources(*dirs):
    return [os.path.join(d, f) for top in dirs for d, _, fs in os.walk(top)
            for f in fs if f.endswith(".scala")]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must name the Spark installation")
    return home


def build():
    """Compiles engine + benchmark unless the class dir matches the sources."""
    stamp = os.path.join(BUILD, "classes.stamp")
    want = digest(sources(ENGINE_SOURCES, os.path.join(HERE, "src")) +
                  [os.path.join(HERE, "build.sh")])
    if os.path.isdir(CLASSES) and os.path.isfile(stamp) and open(stamp).read() == want:
        return want
    os.makedirs(BUILD, exist_ok=True)
    rc = run_proc(["bash", os.path.join(HERE, "build.sh"), CLASSES], 900,
                  stdout=sys.stderr)
    if rc != 0:
        die(f"build failed with exit code {rc}")
    with open(stamp, "w") as f:
        f.write(want)
    return want


def run_jvm(keys, seed, passes, trace, sf, pins=None, inject_failure=False,
            pin_out=None, spans=None, timeout=JVM_TIMEOUT_S):
    """One benchmark JVM; returns its record (None for a pin run)."""
    sf_dir = os.path.join(HERE, "fixtures", f"sf{sf}")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        die(f"fixtures missing: {sf_dir}")
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dgraft.shard.dir={run_dir}/tmp/shards"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{CLASSES}{os.pathsep}{spark_home()}/jars/*", "graft.perfbench.PerfBench",
            "--keys", ",".join(keys), "--seed", str(seed),
            "--passes", str(passes), "--trace", "1" if trace else "0",
            "--sf-dir", sf_dir,
            "--warehouse", f"{run_dir}/warehouse", "--local-dir", f"{run_dir}/local",
            "--inject-failure", "1" if inject_failure else "0", "--out", out])
    cmd += ["--pin-out", pin_out] if pin_out else ["--pins", pins]
    if spans:
        cmd += ["--spans", spans]
    try:
        rc = run_proc(cmd, timeout, stdout=sys.stderr, cwd=run_dir)
        if rc != 0:
            die(f"benchmark JVM exited with code {rc}")
        if pin_out:
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where it is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def pins_path(sf):
    return os.path.join(HERE, f"pins_sf{sf}.json")


def measure(workload, seed, trace, sf, inject_failure=False):
    spec = load_workloads()["workloads"][workload]
    spans = None
    if trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        spans = os.path.join(BUILD, "traces", f"{workload}-sf{sf}-seed{seed}.jsonl")
    cpu0 = cpu_times()
    rec = run_jvm(spec["keys"], seed, spec["passes"], trace, sf, pins=pins_path(sf),
                  inject_failure=inject_failure, spans=spans)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests: host contention this
    # run's numbers carry, so a slow record identifies itself
    rec["steal_frac"] = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
                         if cpu0 and cpu1 else None)
    rec["workload"] = workload
    rec["sf"] = sf
    rec["source_digest"] = build()
    rec["commit"] = git_commit()
    rec["spans_file"] = spans
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    values = rec["per_layer"] if trace else rec["end_to_end"]
    rec["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return rec


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10, cwd=ROOT).stdout.strip() or None
    except OSError:
        return None


def result_line(rec, trace):
    metrics = rec["metrics"]
    if not trace:  # failed_frac is 0 on a healthy run: reported in the record only
        metrics = {k: v for k, v in metrics.items() if k != "failed_frac"}
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def self_test():
    """sf0.001 smoke run of each workload, traced and untraced, with one
    deliberately failing key: every metric must be printed with its unit,
    the failing key (and only it) must be counted in failed_frac, and the
    run must take exactly its fixed number of latency samples."""
    problems = []
    for name, spec in load_workloads()["workloads"].items():
        for trace in (False, True):
            rec = measure(name, 1, trace, 0.001, inject_failure=True)
            units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
            for k, u in units.items():
                m = rec["metrics"].get(k)
                if not m or m.get("unit") != u or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{name} trace={int(trace)}: metric {k} missing or without unit")
            if set(rec["failures"]) != {"perfbench_selftest_fail"}:
                problems.append(f"{name} trace={int(trace)}: failures {rec['failures']}")
            if not trace and not rec["end_to_end"]["failed_frac"] > 0:
                problems.append(f"{name}: failing key not counted in failed_frac")
            passes = 4 if trace else spec["passes"]
            samples = (passes - 2 if trace else passes) * len(spec["keys"])
            if rec["passes"] != passes or rec["latency_samples"] != samples:
                problems.append(f"{name} trace={int(trace)}: {rec['passes']} passes and "
                                f"{rec['latency_samples']} samples, want {passes} and {samples}")
            print(json.dumps({"workload": name, "trace": int(trace),
                              "metrics": rec["metrics"], "failures": rec["failures"]}))
    for p in problems:
        print(f"[self-test] {p}", file=sys.stderr)
    print(json.dumps({"self_test": "fail" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def pin():
    """Fingerprints every workload key twice from the current sources; a key
    whose hash differs between the two runs is pinned by row count only."""
    spec = load_workloads()
    keys = sorted({k for w in spec["workloads"].values() for k in w["keys"]})
    for sf in (spec["sf"], 0.001):
        runs = []
        for i in range(2):
            path = os.path.join(BUILD, f"pin-{sf}-{i}.json")
            run_jvm(keys, i, 0, False, sf, pin_out=path, timeout=1800)
            with open(path) as f:
                runs.append(json.load(f))
        pins = {}
        for k in keys:
            a, b = runs[0][k], runs[1][k]
            if a["rows"] != b["rows"]:
                die(f"{k}: row count differs between pin runs ({a['rows']} vs {b['rows']})")
            pins[k] = {"rows": a["rows"], "hash": a["hash"] if a["hash"] == b["hash"] else None}
        with open(pins_path(sf), "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"[pin] sf{sf}: {len(pins)} keys, count-only: "
              f"{sorted(k for k, v in pins.items() if v['hash'] is None)}", file=sys.stderr)
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark interface; a run measures a fixed number of
    # passes (workloads.json), so its sample count never depends on speed
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SOURCES, "graft", "SparkEntry.scala")):
        die("run from the repository root: the engine sources are missing")
    build()
    if args.self_test:
        return self_test()
    if args.pin:
        return pin()
    workloads = load_workloads()
    if args.workload not in workloads["workloads"]:
        die(f"unknown workload {args.workload!r}; have {sorted(workloads['workloads'])}")
    t = time.time()
    rec = measure(args.workload, args.seed, bool(args.trace), workloads["sf"])
    rec["run_wall_s"] = time.time() - t
    print(json.dumps(rec))  # the record, with every metric and its unit
    print(json.dumps(result_line(rec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
