#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source (perfbench/build.sbt) and caches the build in
perfbench/target, keyed by a hash of the sources. Each run then:

  1. generates the workload's inputs from --seed (gen.py), with the
     ground truth the checks use;
  2. runs the benchmark's JVM side (perfbench.Main) at local[N], N = nproc capped
     at 4: set-up three times, warm-up, then whole rounds of the
     workload's operations until --seconds have passed;
  3. checks the program's outputs against the ground truth (check.py);
  4. prints a report line and, last, one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans the JVM side records around each layer call.
Everything is written under .bench_work/ in the checkout and removed at
the end.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("pipeline", "catalog")
CATALOG_SF = 0.02
WARM_SF = 0.001     # the warm-up pass's tables
# the default regime: a build-heavy, an execution-heavy and two cheap
# relational queries
CATALOG_MIX = ["q196_dendrogram_levels", "q154_weighted_median", "q01_pricing_summary",
               "q03_broadcast_join"]
# the scale-gated family with every gate forced to its distributed branch:
# a graph fixpoint (ext/Graph) and min-label CC (TextDedup)
FORCED_CONF = ("graft.driverLoopMaxNodes=0;graft.broadcastMaxEdges=0;graft.kmeansDriverMaxRows=0;"
               "graft.spectralDriverMaxRows=0;graft.mmrDriverMaxCandidates=0")
FORCED_MIX = ["q179_coreness", "q141_leakage_safe_split"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        walk = [(top, [], [""])] if os.path.isfile(top) else os.walk(top)
        for d, dirs, names in sorted(walk):
            dirs.sort()
            for n in sorted(names):
                p = os.path.join(d, n) if n else d
                h.update(p[len(root):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root):
    """The classpath of the built program and JVM side, building if the
    sources changed since the cached build."""
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.cp")
    stamp = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the program and the benchmark's JVM side (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and "classes" in ln and ":" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ------------------------------------------------------------------ run

def run_jvm(cp, work, workload, seconds, trace, cpus, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("GRAFT_CONF", None)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + JVM_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--work", work, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cpus", str(cpus)])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("the JVM timed out" if code is None else f"the JVM exited with {code}", 1)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    spans = []
    if trace:
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)
    return res, spans


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def round_times(ops):
    by = {}
    for o in ops:
        by[o["round"]] = by.get(o["round"], 0.0) + o["s"]
    return by


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 40:
        return None
    p = int(100 * (n - 10) / n)
    return p, sorted(xs)[min(n - 1, int(n * p / 100))]


def dir_mb(path):
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                     if not n.startswith(".") and not n.startswith("_"))
    return total / 1048576


def named_metrics(workload, res, truth, work):
    """The workload's own figures, for the report line."""
    ops = res["ops"]
    by = lambda k: [o for o in ops if o["kind"] == k and o["ok"]]  # noqa: E731
    out = {}
    if workload == "pipeline":
        rides, status = truth["rides"], truth["status"]
        loads, reloads = by("load"), by("reload")
        rows = lambda os_: sum(rides["file_rows"][day_of(o["file"])] for o in os_)  # noqa: E731
        out["ingest_rides_per_s"] = rows(loads) / max(1e-9, sum(o["s"] for o in loads))
        out["reload_rides_per_s"] = rows(reloads) / max(1e-9, sum(o["s"] for o in reloads))
        out["metrics_year_s"] = med([o["s"] for o in by("metrics-year")])
        out["metrics_day_p50_s"] = med([o["s"] for o in by("metrics-day")])
        out["range_query_p50_s"] = med([o["s"] for o in by("range")])
        out["store_mb"] = dir_mb(last_store(work))
        drains = by("drain")
        out["stream_snapshots_per_s"] = sum(o["snapshots"] for o in drains) / max(1e-9, sum(o["s"] for o in drains))
        out["status_once_p50_s"] = med([o["s"] for o in by("status-once")])
        out["event_log_mb"] = dir_mb(os.path.join(work, "state", "round0", "events")) + \
            dir_mb(os.path.join(work, "state", "round0", "once_events"))
    else:
        default = [o for o in ops if "@" not in o["kind"]]
        out["catalog_total_s"] = med(list(round_times(default).values()))
        out["forced_total_s"] = med(list(round_times([o for o in ops if "@" in o["kind"]]).values()))
        out["catalog_query_p50_s"] = med([o["s"] for o in default])
    out["heap_peak_mb"] = res["heap_peak_mb"]
    return out


def day_of(csv_path):
    """`new/Historia_przejazdow_2025-06-26.csv` -> `2025-06-26`."""
    return csv_path.rsplit("_", 1)[-1][:10]


def last_store(work):
    state = os.path.join(work, "state")
    return os.path.join(state, sorted(d for d in os.listdir(state) if d.startswith("store"))[-1])


# ------------------------------------------------------------ per layer

PER_LAYER = [
    "ingest.csv_reads_per_file", "store.append_s", "store.append_jobs", "store.interim_write_s",
    "store.probe_rows_per_file", "store.files_written_per_day", "metrics.year_store_reads",
    "metrics.year_jobs", "metrics.day_store_reads", "metrics.day_jobs", "metrics.json_merge_s",
    "metrics.range_jobs", "streaming.jobs_per_snapshot", "streaming.json_bytes_read_per_landed_byte",
    "streaming.batch_s", "streaming.event_files_per_snapshot", "status.once_jobs",
    "status.once_bytes_read_per_dir_byte", "queries.build_s", "queries.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "exec.execute_s",
    "exec.jobs", "exec.task_s", "exec.shuffle_mb", "forced.build_s", "forced.build_jobs",
    "forced.execute_s", "forced.jobs", "forced.task_s", "forced.shuffle_mb", "store_mb",
    "streaming.event_log_mb",
    "jvm.gc_s", "jvm.heap_peak_mb",
    "trace.overhead_s",
]


def per_layer(workload, res, spans, truth, named):
    m = {k: 0.0 for k in PER_LAYER}
    ops = res["ops"]
    traced = sorted({s["round"] for s in spans})
    top = [s for s in spans if s["parent"] < 0]
    kids = lambda parent_name, name: [s for s in spans if s["name"] == name and s["parent"] >= 0  # noqa: E731
                                      and spans[s["parent"]]["name"] == parent_name]
    named_spans = lambda name: [s for s in spans if s["name"] == name]  # noqa: E731
    secs = lambda s: s["end_s"] - s["start_s"]  # noqa: E731

    def ops_in(kind):
        return [o for o in ops if o["kind"] == kind and o["round"] in traced]

    if workload == "pipeline":
        rides, status = truth["rides"], truth["status"]
        loads = named_spans("load")
        load_ops = ops_in("load")
        m["ingest.csv_reads_per_file"] = med(
            [s["csv_records"] / rides["file_rows"][day_of(o["file"])] for s, o in zip(loads, load_ops)])
        appends = kids("load", "store.append")
        m["store.append_s"] = med([secs(s) for s in appends])
        m["store.append_jobs"] = med([s["jobs"] for s in appends])
        m["store.interim_write_s"] = med([secs(s) for s in kids("load", "store.interim_write")])
        m["store.probe_rows_per_file"] = med([s["parquet_records"] for s in appends])
        m["store.files_written_per_day"] = med([o.get("files_written") for o in ops if o["kind"] == "load"])
        through = rides["store_rows_through"]
        m["metrics.year_store_reads"] = med([s["parquet_records"] / through[s["round"] + 1]
                                             for s in named_spans("metrics-year")])
        m["metrics.year_jobs"] = med([s["jobs"] for s in named_spans("metrics-year")])
        days = [o["day"] for o in ops_in("metrics-day")]
        m["metrics.day_store_reads"] = med([s["parquet_records"] / rides["store_rows_by_day"][d]
                                            for s, d in zip(named_spans("metrics-day"), days)])
        m["metrics.day_jobs"] = med([s["jobs"] for s in named_spans("metrics-day")])
        m["metrics.json_merge_s"] = med([secs(s) for s in named_spans("metrics.json_merge")])
        m["metrics.range_jobs"] = med([s["jobs"] for s in named_spans("range")])
        drains, drain_ops = named_spans("drain"), ops_in("drain")
        m["streaming.jobs_per_snapshot"] = med([s["jobs"] / o["snapshots"] for s, o in zip(drains, drain_ops)])
        m["streaming.json_bytes_read_per_landed_byte"] = med(
            [s["json_bytes"] / o["landed_bytes"] for s, o in zip(drains, drain_ops)])
        m["streaming.batch_s"] = med([b for o in ops if o["kind"] == "drain" for b in o.get("batch_s", [])])
        m["streaming.event_files_per_snapshot"] = med(
            [o["event_files"] / o["snapshots"] for o in ops if o["kind"] == "drain"])
        onces, once_ops = named_spans("status-once"), ops_in("status-once")
        m["status.once_jobs"] = med([s["jobs"] for s in onces])
        m["status.once_bytes_read_per_dir_byte"] = med(
            [s["json_bytes"] / o["dir_bytes"] for s, o in zip(onces, once_ops)])
    else:
        def per_pass(vals):
            by = {}
            for r, v in vals:
                by[r] = by.get(r, 0.0) + v
            return med(list(by.values()))
        def part(name, forced):
            return [s for s in named_spans(name) if ("@" in spans[s["parent"]]["name"]) == forced]
        for forced, build_name, exec_prefix in ((False, "queries.build", "exec."), (True, "forced.build", "forced.")):
            build, exe = part("queries.build", forced), part("exec.execute", forced)
            m[build_name + "_s"] = per_pass([(s["round"], secs(s)) for s in build])
            m[build_name + "_jobs"] = per_pass([(s["round"], s["jobs"]) for s in build])
            m[exec_prefix + "execute_s"] = per_pass([(s["round"], secs(s)) for s in exe])
            m[exec_prefix + "jobs"] = per_pass([(s["round"], s["jobs"]) for s in exe])
            m[exec_prefix + "task_s"] = per_pass([(s["round"], s["task_ms"] / 1000) for s in exe])
            m[exec_prefix + "shuffle_mb"] = per_pass([(s["round"], s["shuffle_write_bytes"] / 1048576) for s in exe])
        for p in ("analysis", "optimization", "planning"):
            m[f"catalyst.{p}_s"] = per_pass([(o["round"], o.get(f"{p}_s", 0.0)) for o in ops
                                             if o["round"] in traced and "@" not in o["kind"]])
    m["store_mb"] = named.get("store_mb", 0.0)
    m["streaming.event_log_mb"] = named.get("event_log_mb", 0.0)
    gc = {}
    for s in top:
        gc[s["round"]] = gc.get(s["round"], 0.0) + s["gc_ms"] / 1000
    m["jvm.gc_s"] = med(list(gc.values()))
    m["jvm.heap_peak_mb"] = max([s["heap_peak_mb"] for s in top], default=0.0)
    # the first round still carries the tail of the warm-up's JIT, so the
    # untraced side is the untraced rounds after it
    rt = round_times(ops)
    m["trace.overhead_s"] = med([v for r, v in rt.items() if r in traced]) - \
        statistics.mean([v for r, v in rt.items() if r not in traced and r > 0] or [0.0])
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    cp = build(root)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        if a.workload == "pipeline":
            truth = {"rides": gen.rides(os.path.join(work, "in", "rides"), a.seed),
                     "status": gen.status(os.path.join(work, "in", "status"), a.seed)}
        else:
            gen.catalog(os.path.join(work, "in", "catalog", "tables"), CATALOG_SF)
            gen.catalog(os.path.join(work, "in", "catalog", "warm"), WARM_SF)
            lines = CATALOG_MIX + [f"{q} {FORCED_CONF}" for q in FORCED_MIX]
            random.Random(a.seed).shuffle(lines)          # the seed sets the run order
            with open(os.path.join(work, "in", "catalog", "mix.txt"), "w") as f:
                f.write("\n".join(lines) + "\n")
            truth = {"mix": CATALOG_MIX + [f"{q}@forced" for q in FORCED_MIX]}
        log(f"inputs generated in {time.time() - t0:.1f} s")

        cpus = max(1, min(4, os.cpu_count() or 1))
        t0 = time.time()
        res, spans = run_jvm(cp, work, a.workload, a.seconds, a.trace == 1, cpus, deadline)
        log(f"JVM ran {time.time() - t0:.1f} s")
        t0 = time.time()
        failed_kinds, problems = check.run(a.workload, work, res, truth)
        log(f"checked in {time.time() - t0:.1f} s")
        for p in problems:
            log(f"CHECK: {p}")
        ops = res["ops"]
        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"] or o["kind"] in failed_kinds)
        # every operation that ran to its end is timed, whatever the check
        # says of its output: `failed` is the guard for that
        ran = [o for o in ops if o["ok"]]
        named = named_metrics(a.workload, res, truth, work)
        if a.trace:
            metrics = {k: {"value": v, "unit": u} for k, v, u in
                       ((k, v, UNITS[k]) for k, v in per_layer(a.workload, res, spans, truth, named).items())}
        else:
            rt = round_times(ran)
            metrics = {
                "setup_s": {"value": statistics.median(res["setup_s"]), "unit": "s"},
                "round_s": {"value": med(list(rt.values())), "unit": "s"},
                "op_p50_s": {"value": med([o["s"] for o in ran]), "unit": "s"},
            }
        t = tail([o["s"] for o in ran])
        kinds = sorted({o["kind"] for o in ran})
        report = dict(named, rounds=res["rounds"], timed_s=res["timed_s"], setup_reps_s=res["setup_s"],
                      warmup_s=res["warmup_s"],
                      round_s=[v for _, v in sorted(round_times(ran).items())],
                      kind_p50_s={k: med([o["s"] for o in ran if o["kind"] == k]) for k in kinds},
                      gc_s=res["gc_s"], failed_ops=sorted(failed_kinds), wall_s=time.time() - t_start)
        if t:
            report[f"op_p{t[0]}_s"] = t[1]
        print("report " + json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


UNITS = {k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb") else
             "jobs" if k.endswith("jobs") else "ratio") for k in PER_LAYER}
UNITS.update({"store.files_written_per_day": "files", "streaming.event_files_per_snapshot": "files",
              "store.probe_rows_per_file": "rows", "streaming.jobs_per_snapshot": "jobs"})

if __name__ == "__main__":
    main()
