#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, every output checked.

    python3 graftbench/run.py --workload crunch_reference --seed 1 --seconds 20 --trace 0

Builds the library and the runner from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the workload in one
JVM, checks its outputs, and prints the metrics. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; the end
to end metrics with --trace 0, the per-layer metrics with --trace 1. The
exit code is non-zero when a check fails or the run cannot complete.
See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import oracle  # noqa: E402

# Input sizes (recorded in BENCHMARK.json).
SF_CRUNCH = 0.002         # star schema the reference queries read
SF_SERVE = 0.01           # star schema the player store is seeded from
SF_FOLD = 0.1             # lineitem the worker's fold batches are cut from
FOLD_BATCHES = 600        # 250 orders (~1,000 fact rows) per batch at sf0.1
RUN_LIMIT_S = 165         # the workload's JVM is stopped this long after the run began

WORKLOADS = ("crunch_reference", "serve_mixed")
QUERIES = ("crunch_global_full", "crunch_player", "hero_vs_hero_full",
           "crunch_phases", "crunch_bans", "team_fame", "dim_rollup_all",
           "item_pivot", "crunch_global_gated", "build_regex_full")
# The operation classes whose latencies make up each workload's
# latency_p50_s / latency_mean_s.
CLASSES = {
    "crunch_reference": [("query", q) for q in QUERIES],
    "serve_mixed": [("poll", None), ("read", None), ("write", None), ("fold", None)],
}

JAVA_OPTS = [
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*")
                                               if p.is_file() and "target" not in p.parts)
        for p in files:
            st = p.stat()
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The runner's classpath, building library + runner when the source
    changed since the last build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("graftbench: the library's sbt build is not beside the "
                         "benchmark (expected ../build.sbt and ../src/main/scala)")
    build = HERE / ".build"
    stamp, cp_file = build / "fingerprint", build / "classpath.txt"
    fp = _fingerprint()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building library and runner (sbt)")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=850,
            stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise SystemExit(f"graftbench: build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("graftbench: build failed")
    build.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 100]); 0 with no samples
    (a class with no successful operation fails the run anyway)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    i = int(k)
    j = min(i + 1, len(xs) - 1)
    return xs[i] + (xs[j] - xs[i]) * (k - i)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def select(ops, kind, name=None, ok=True, traced=None):
    return [o for o in ops if o["kind"] == kind and (name is None or o["name"] == name)
            and (not ok or o.get("failure") is None)
            and (traced is None or o["traced"] == traced)]


def class_latency_sums(workload, ops, q, via=None, traced=None):
    """Sum over the workload's operation classes of the class's q-th
    percentile latency, or of its mean latency when q is "mean"."""
    total = 0.0
    for kind, name in CLASSES[workload]:
        lat = [o["latency_s"] for o in select(ops, kind, name, traced=traced)
               if via is None or o["name"] == via or o["name"] not in VIAS]
        total += (statistics.mean(lat) if lat else 0.0) if q == "mean" else pct(lat, q)
    return total


VIAS = ("http", "inproc")  # how a serve_mixed request reached the library


def named_metrics(workload, res):
    """The workload's own end-to-end figures, by the names users know."""
    ops = res["ops"]
    m = {}
    if workload == "crunch_reference":
        m["crunch_total_s"] = (class_latency_sums(workload, ops, 50), "s")
        for q in QUERIES:
            m[f"{q}_p50_s"] = (pct([o["latency_s"] for o in select(ops, "query", q)], 50), "s")
        m["queries_per_s"] = (throughput(workload, res), "1/s")
    else:
        for kind in ("read", "poll", "write"):
            lat = [o["latency_s"] for o in select(ops, kind)]
            m[f"{kind}_p50_s"] = (pct(lat, 50), "s")
            m[f"{kind}_p90_s"] = (pct(lat, 90), "s")
        requests = [o for o in ops if o["name"] in VIAS and o.get("failure") is None]
        m["serve_ops_per_s"] = (len(requests) / res["loop_s"], "1/s")
        folds = select(ops, "fold")
        lat = [o["latency_s"] for o in folds]
        m["fold_rows_per_s"] = (sum(o["rows"] for o in folds) / res["loop_s"], "rows/s")
        m["fold_batch_p50_s"] = (pct(lat, 50), "s")
        m["fold_batch_p90_s"] = (pct(lat, 90), "s")
        m["store_mb"] = (store_bytes(res) / 1e6, "MB")
    return m


def store_bytes(res):
    """On-disk bytes of the served store and the worker's store."""
    return res["facts"].get("store_bytes", 0) + res["facts"].get("worker_store_bytes", 0)


def throughput(workload, res):
    """Operations completed per second: queries (crunch); requests, folds
    and redeliveries (serve)."""
    ops = [o for o in res["ops"] if o.get("failure") is None]
    return len(ops) / res["loop_s"]


def end_to_end(workload, res):
    return {
        "setup_s": (res["session_s"] + med(res["setup_s"]) + res["warmup_s"], "s"),
        "latency_p50_s": (class_latency_sums(workload, res["ops"], 50), "s"),
        "latency_mean_s": (class_latency_sums(workload, res["ops"], "mean"), "s"),
        "throughput_per_s": (throughput(workload, res), "1/s"),
    }


def span_stats(spans):
    """Self time of every span (its duration minus its children's), by
    name; an operation's own span ("fold:b42") is listed under its kind."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    by = {}
    for s in spans:
        name = s["name"] if s["parent"] else "op." + s["name"].split(":")[0]
        by.setdefault(name, []).append(
            (s["dur_s"], s["dur_s"] - child.get(s["id"], 0.0), s["op"]))
    return by


def per_layer(workload, res):
    spans, ops = res["spans"], res["ops"]
    by = span_stats(spans)
    op_of = {s["id"]: s["name"] for s in spans if s["parent"] == 0}

    def self_med(name, under=None):
        xs = [self_t for _, self_t, op in by.get(name, [])
              if under is None or op_of.get(op, "").startswith(under)]
        return med(xs)

    m = {}
    for q in QUERIES:
        qops = select(ops, "query", q, traced=True)
        m[f"operators.{q}.plan_s"] = (self_med(f"operators.{q}.plan"), "s")
        m[f"operators.{q}.exec_s"] = (self_med(f"operators.{q}.exec"), "s")
        m[f"spark.{q}.task_cpu_s"] = (med([o["spark.cpu_ns"] / 1e9 for o in qops]), "s")
        m[f"spark.{q}.jobs"] = (med([o["spark.jobs"] for o in qops]), "count")
        m[f"spark.{q}.shuffle_write_mb"] = (
            med([o["spark.shuffle_write_bytes"] / 1e6 for o in qops]), "MB")
    # engine counters per operation: exact per op where operations run one
    # at a time, loop totals over operations where clients overlap
    n_ops = max(1, len(ops))
    c = res["loop_counters"]
    per_op = {k: c.get(k, 0) / n_ops for k in
              ("cpu_ns", "jobs", "shuffle_write_bytes", "spill_bytes", "gc_ms")}
    m["spark.task_cpu_s"] = (per_op["cpu_ns"] / 1e9, "s")
    m["spark.jobs"] = (per_op["jobs"], "count")
    m["spark.shuffle_write_mb"] = (per_op["shuffle_write_bytes"] / 1e6, "MB")
    m["spark.spill_mb"] = (per_op["spill_bytes"] / 1e6, "MB")
    m["spark.gc_s"] = (per_op["gc_ms"] / 1e3, "s")
    folds = select(ops, "fold")
    compacting = {o["name"] for o in folds if o.get("compacted")}
    traced_folds = [o for o in folds if o["traced"]]
    merge = [(self_t, op_of.get(op, "")) for _, self_t, op in
             by.get("IncrementalCruncher.mergeBatch", [])]
    m["IncrementalCruncher.merge_batch_s"] = (med([t for t, n in merge if n.startswith("fold:")]), "s")
    m["IncrementalCruncher.merge_batch_compacting_s"] = (
        med([t for t, n in merge if n.startswith("fold:") and n[5:] in compacting]), "s")
    m["IncrementalCruncher.merge_batch_plain_s"] = (
        med([t for t, n in merge if n.startswith("fold:") and n[5:] not in compacting]), "s")
    m["IncrementalCruncher.redelivery_noop_s"] = (
        med([t for t, n in merge if n.startswith("redelivery:")]), "s")
    m["spark.jobs_per_fold"] = (med([o["spark.jobs"] for o in traced_folds]), "count")
    m["PointStore.compactions"] = (
        len(compacting) + len(select(ops, "compact")), "count")
    m["PointStore.bytes_written_per_fold"] = (
        statistics.mean([o["bytes_written"] for o in traced_folds]) if traced_folds else 0.0, "B")
    m["PointStore.store_mb"] = (store_bytes(res) / 1e6, "MB")
    m["PointStore.version_of_s"] = (self_med("PointStore.versionOf"), "s")
    m["PointStore.open_s"] = (self_med("PointStore.open", "read:"), "s")
    m["PointStore.snapshot_plan_s"] = (self_med("PointStore.snapshot.plan"), "s")
    m["PointStore.snapshot_exec_s"] = (self_med("PointStore.snapshot.exec"), "s")
    members = [o["members"] for o in select(ops, "read") if "members" in o]
    m["PointStore.members_per_read"] = (statistics.mean(members) if members else 0.0, "count")
    m["PointStore.append_tagged_s"] = (self_med("PointStore.appendTagged"), "s")
    m["PointStore.compact_s"] = (self_med("PointStore.compact"), "s")
    for kind in ("poll", "read", "write"):
        http = [o["latency_s"] for o in select(ops, kind, "http")]
        inproc = [o["latency_s"] for o in select(ops, kind, "inproc")]
        m[f"QueryServer.{kind}_overhead_s"] = (
            med(http) - med(inproc) if http and inproc else 0.0, "s")
    # tracing overhead: the headline latency of the traced operations
    # against that of the untraced ones interleaved with them
    via = "http" if workload == "serve_mixed" else None
    traced_p50 = class_latency_sums(workload, ops, 50, via, traced=True)
    plain_p50 = class_latency_sums(workload, ops, 50, via, traced=False)
    m["trace.overhead_ratio"] = (traced_p50 / plain_p50 - 1 if plain_p50 else 0.0, "ratio")
    return m, by


# ---------------------------------------------------------------- run

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help="scale factor for every generated input, replacing the "
                         "workload's own (the self-check runs at 0.001)")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb the program's outputs before checking them "
                         "(proves the checks fail; the run reports correct=false)")
    args = ap.parse_args(argv)

    cp = classpath()
    t_start = time.time()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        data = work / "data"
        if args.workload == "crunch_reference":
            datagen.star_schema(args.seed, args.sf or SF_CRUNCH, str(data / "star"))
        else:
            datagen.star_schema(args.seed, args.sf or SF_SERVE, str(data / "star"))
            datagen.fold_batches(args.seed, args.sf or SF_FOLD, FOLD_BATCHES,
                                 str(data / "batches"))
        t_jvm = time.time()
        out = work / "result.json"
        cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
               "graft.bench.Main", "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", str(data), "--work", str(work / "jvm"), "--out", str(out)
               ] + (["--corrupt"] if args.corrupt else [])
        jvm_log = work / "jvm.log"
        with open(jvm_log, "w") as fh:
            try:
                rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(10, RUN_LIMIT_S - (time.time() - t_start))
                                    ).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not out.is_file():
            sys.stderr.write(jvm_log.read_text()[-6000:])
            raise SystemExit(f"graftbench: workload JVM failed ({rc})")
        res = json.loads(out.read_text())
        t_check = time.time()
        rc = report(args, res, work)
        log(f"inputs {t_jvm - t_start:.1f} s, JVM {t_check - t_jvm:.1f} s, "
            f"checks and report {time.time() - t_check:.1f} s")
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, work):
    ops = res["ops"]
    failures = [f"{o['kind']}:{o['name']}: {o['failure']}" for o in ops if o.get("failure")]
    failures += res["check_failures"]
    attempted = len(ops) + 1  # the final check counts as one operation
    failed = len([o for o in ops if o.get("failure")]) + len(res["check_failures"])
    if args.workload == "crunch_reference":
        # one check per query: a wrong result makes every timed execution
        # of that query an incorrect operation
        verdicts = oracle.compare(str(work / "data" / "star"), str(work / "jvm" / "check" / "crunch"))
        attempted = len(ops)
        for q, why in verdicts.items():
            if why:
                n = len(select(ops, "query", q, ok=False))
                failed += n
                failures.append(f"{q}: result differs from its DuckDB twin: {why} ({n} executions)")
    failed = min(failed, attempted)
    for f in failures[:20]:
        log(f"FAILED {f}")

    print(f"workload {args.workload} seed {args.seed}: {len(ops)} operations in "
          f"{res['loop_s']:.1f} s; session start {res['session_s']:.2f} s, set-ups "
          f"{', '.join(f'{s:.2f}' for s in res['setup_s'])} s, warm-up {res['warmup_s']:.2f} s")
    counts = [f"{name or kind} {len(select(ops, kind, name))}" for kind, name in CLASSES[args.workload]]
    print(f"samples per operation class: {', '.join(counts)}")
    named = named_metrics(args.workload, res)
    named["failed_ratio"] = (failed / attempted, "ratio")
    for k, (v, unit) in named.items():
        print(f"  {k:<28} {v:12.4f} {unit}")
    for k, v in sorted(res["facts"].items()):
        print(f"  {k:<28} {v}")
    if args.trace:
        metrics, by = per_layer(args.workload, res)
        print("  span self times (median s, n):")
        for name, xs in sorted(by.items()):
            print(f"    {name:<44} {med([s for _, s, _ in xs]):10.5f}  n={len(xs)}")
        trace_dir = HERE / ".out"
        trace_dir.mkdir(exist_ok=True)
        trace_file = trace_dir / f"trace-{args.workload}-{args.seed}.json"
        trace_file.write_text(json.dumps({"spans": res["spans"], "ops": ops}))
        print(f"  spans written to {trace_file.relative_to(ROOT)}")
    else:
        metrics = end_to_end(args.workload, res)
    for k, (v, unit) in metrics.items():
        print(f"  {k:<44} {v:12.5f} {unit}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
