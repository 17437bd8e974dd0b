#!/usr/bin/env python3
"""graft benchmark: one command per workload, seeded, with output checks.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the benchmark package
(perfbench/build.sbt: the engine sources of this checkout plus the harness in
perfbench/src) with sbt in offline mode, then every call starts one JVM on
local[nproc] that sets up the workload, runs a closed loop of ops with one
client thread in whole passes until --seconds have passed, checks the
outputs against the generator's model and writes its raw record. This script reduces that record to metrics:
human-readable lines first, then one JSON line as the last line of stdout.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("etl_daily", "analyst_mix", "stream_ingest")
JVM_TIMEOUT_S = 165

# JDK 17 module opens Spark needs outside spark-submit (mirrors build.sbt at
# the repo root).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Untraced-run metrics. The ones every workload emits are the BENCHMARK.json
# end_to_end set; the rest are printed where they apply.
END_TO_END = ("setup_s", "op_p50_s", "ops_per_s", "peak_rss_mb")
UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
    "write_amp": "B/B", "space_amp": "B/B", "peak_rss_mb": "MiB", "error_rate": "fraction",
}

ALL = (("self_s", "s"), ("jobs", "count"), ("stages", "count"), ("util", "fraction"), ("shuffle_bytes", "B"))
READ = (("scan_files", "count"), ("scan_bytes", "B"))
WRITE = (("out_files", "count"), ("out_bytes", "B"))
SPANS = (
    ("pipeline.cleanse", ALL + READ + WRITE),
    ("pipeline.partition", ALL + READ + WRITE),
    ("pipeline.transform", ALL + READ + WRITE),
    ("pipeline.load", ALL + READ + WRITE),
    ("operators.next_snapshot", ALL + READ + WRITE),
    ("dq.suite", ALL + READ),
    ("query.call", ALL + READ),
    ("query.exec", ALL + READ),
    ("sources.point_lookup", ALL + READ),
    ("sources.time_travel", ALL + READ),
    ("sources.change_feed", ALL + READ),
    ("sources.latest_scan", ALL + READ),
    ("streaming.dq_trigger", ALL + READ + WRITE),
    ("streaming.load_trigger", ALL + READ + WRITE),
)
STREAM_PROGRESS = ("latest_offset_s", "get_batch_s", "add_batch_s", "wal_commit_s",
                   "commit_offsets_s", "query_planning_s", "start_overhead_s")
GAUGES = (("sources.versions", "count"), ("sources.rewrite_ratio", "ratio"), ("sources.prune_ratio", "ratio"))


def per_layer_names():
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [("core.session_start_s", "s"), ("core.cache_entries_after_op", "count"),
           ("core.storage_mem_after_op_mb", "MiB")]
    for span, counters in SPANS:
        out += [(f"{span}.{c}", u) for c, u in counters]
    out += [(f"streaming.{p}", "s") for p in STREAM_PROGRESS]
    out += list(GAUGES)
    out.append(("trace.overhead_ratio", "ratio"))
    return out


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def percentile_with_tail(latencies, q=0.9, tail=10):
    """Nearest-rank q-quantile, or None unless at least `tail` samples lie beyond it."""
    n = len(latencies)
    if n == 0:
        return None
    idx = math.ceil(q * n) - 1
    if n - 1 - idx < tail:
        return None
    return sorted(latencies)[idx]


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def trace_overhead(ops):
    """Traced over untraced op latency: paired where an op ran both ways."""
    by_id = {}
    for o in ops:
        by_id.setdefault(o["id"], {})[o["traced"]] = (o["end_ns"] - o["start_ns"]) / 1e9
    pairs = [v[True] / v[False] for v in by_id.values() if True in v and False in v and v[False] > 0]
    if pairs:
        return statistics.median(pairs)
    t = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops if o["traced"]]
    u = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops if not o["traced"]]
    return statistics.median(t) / statistics.median(u) if t and u else 0.0


def layer_metrics(rec):
    """Per-layer metrics of a traced run; spans that never ran read 0."""
    spans = rec["spans"]
    selfs = self_times(spans)
    traced_ops = {o["id"] for o in rec["ops"] if o["traced"]}
    per_op = {}  # (metric, op) -> summed value; util is averaged instead
    util = {}
    for s in spans:
        if s["op"] not in traced_ops:
            continue
        vals = dict(s["counters"], self_s=selfs[s["id"]])
        for k, v in vals.items():
            if k == "util":
                util.setdefault(s["name"], []).append(v)
                continue
            name = f"streaming.{k}" if k in STREAM_PROGRESS else f"{s['name']}.{k}"
            per_op[(name, s["op"])] = per_op.get((name, s["op"]), 0.0) + v
    grouped = {}
    for (name, _), v in per_op.items():
        grouped.setdefault(name, []).append(v)
    out = {}
    for name, unit in per_layer_names():
        if name.endswith(".util"):
            v = median_or_zero(util.get(name[: -len(".util")], []))
        elif name == "core.session_start_s":
            v = rec["session_start_s"]
        elif name.startswith("core."):
            v = max(rec["op_gauges"].get(name, [0.0]) or [0.0])
        elif name in rec["gauges"]:
            v = rec["gauges"][name]
        elif name == "trace.overhead_ratio":
            v = trace_overhead(rec["ops"])
        else:
            v = median_or_zero(grouped.get(name, []))
        out[name] = {"value": v, "unit": unit}
    return out


def end_to_end(rec):
    """End-to-end metrics of an untraced run, and their sample counts."""
    ops = rec["ops"]
    lat = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]
    busy = sum(lat)
    m = {
        "setup_s": rec["session_start_s"] + statistics.median(rec["setup_reps_s"]),
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(ops) / busy,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    p90 = percentile_with_tail(lat)
    if p90 is not None:
        m["op_p90_s"] = p90
    sizes = rec["sizes"]
    if sizes.get("input_bytes_timed"):
        m["rows_per_s"] = sum(o["rows"] for o in ops) / busy
        m["write_amp"] = sizes["written_bytes_timed"] / sizes["input_bytes_timed"]
        m["space_amp"] = sizes["warehouse_bytes"] / sizes["input_bytes_total"]
    return m, len(lat)


def verdict(rec):
    """(attempted, failed, failed checks): an op fails on an exception or a
    failed per-op check; each failed end-of-run check fails one more op."""
    attempted = len(rec["ops"])
    bad_checks = [c for c in rec["checks"] if not c["ok"]]
    failed = min(attempted, sum(1 for o in rec["ops"] if o["error"]) + len(bad_checks))
    return attempted, failed, bad_checks


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the benchmark package once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft: run from the root of a graft checkout")
        sys.exit(2)
    stamp_file = os.path.join(WORK, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME") or (
        shutil.which("spark-submit") and os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        log("no Spark install found: set SPARK_HOME or put spark-submit on PATH")
        sys.exit(2)
    home = os.path.expanduser("~")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building the benchmark package (sbt, offline)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dspark.jars.dir={spark_home}/jars",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        log(r.stdout[-4000:])
        log(f"build failed (exit {r.returncode}); see {WORK}/build.log")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def jvm(cp, main_args, run_dir):
    """Run the harness JVM in `run_dir`, keeping every file it writes there."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp] + main_args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"harness exceeded {JVM_TIMEOUT_S}s; killed")
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ----------------------------------------------------------------------- run

def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the JVM-side checker and generator tests")
    ap.add_argument("--cut-fingerprints", action="store_true",
                    help="analyst_mix: write the observed query fingerprints to data/fingerprints.json")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build()
    name = "selftest" if a.selftest else a.workload
    run_dir = os.path.join(WORK, f"run-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_json = os.path.join(run_dir, "record.json")
    if a.selftest:
        code = jvm(cp, ["graft.perfbench.Main", "--mode", "selftest", "--work", os.path.join(run_dir, "work"),
                        "--data", DATA], run_dir)
        print("".join(ln for ln in tail(os.path.join(run_dir, "jvm.log"), 400).splitlines(True)
                      if ln.startswith(("PASS", "FAIL", "selftest:"))), end="")
        sys.exit(0 if code == 0 else 1)

    args = ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--work", os.path.join(run_dir, "work"),
            "--out", out_json, "--data", DATA]
    if a.cut_fingerprints:
        args += ["--cut-fingerprints", os.path.join(HERE, "data", "fingerprints.json")]
    code = jvm(cp, args, run_dir)
    if code != 0 or not os.path.exists(out_json):
        log(tail(os.path.join(run_dir, "jvm.log")))
        log(f"harness failed (exit {code})")
        sys.exit(1)
    with open(out_json) as f:
        rec = json.load(f)
    # keep the raw record and log; drop the generated data
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    report(a, rec)


def report(a, rec):
    attempted, failed, bad_checks = verdict(rec)
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {attempted} ops on local[{rec['cores']}], "
          f"one client, closed loop")
    for k, v in rec["params"].items():
        print(f"  input {k} = {v}")
    for k, v in rec["sizes"].items():
        print(f"  size {k} = {v:.0f} B")
    ld = rec["load"]
    print(f"  load: loadavg_1m {ld['loadavg_1m_start']:.2f} -> {ld['loadavg_1m_end']:.2f}, "
          f"other processes used {100 * (ld['other_cpu_share'] or 0):.1f}% of CPU, "
          f"the hypervisor stole {100 * (ld['steal_share'] or 0):.1f}%")
    for c in rec["checks"]:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    for o in rec["ops"]:
        if o["error"]:
            print(f"  op {o['id']} {o['name']} FAILED: {o['error']}")
    correct = failed == 0 and not bad_checks
    print(f"  verdict: {'correct' if correct else 'INCORRECT'} ({failed} of {attempted} ops failed)")

    if a.trace:
        metrics = layer_metrics(rec)
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    else:
        m, n = end_to_end(rec)
        m["error_rate"] = failed / attempted
        for k in UNITS:
            if k in m:
                print(f"  {k} = {m[k]:.6g} {UNITS[k]}" + (f" (n={n})" if k.startswith("op_") else ""))
            else:
                print(f"  {k} = n/a ({'needs >=100 ops' if k == 'op_p90_s' else 'not measured by this workload'})")
        metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
