#!/usr/bin/env python3
"""LakeBench: the lake layer's end-to-end and per-layer benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mor_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call in a checkout compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
the Spark jar directory the repository's build.sbt names, into
.bench_build/. Later calls reuse that build while the sources are
unchanged. One workload then runs in one JVM (perfbench/src/lakebench),
which writes a raw record of samples, checks and spans; this script
reduces the record to metrics. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric for --trace 0 and every per-layer metric for
--trace 1. The line before it carries the seed, the Spark settings and,
for traced runs, each layer's self time and the end-to-end metric it
should move. Everything the run writes stays under .bench_build/ and
.bench_run/ in the checkout; query_sweep's fixed inputs are kept beside
the build and reused by later sweep runs of it.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_run"
WORKLOADS = ("mor_read", "mor_write_maintain", "query_sweep")
FINGERPRINTS = ROOT / "perfbench" / "sweep_fingerprints.tsv"

# A run must exit within this many seconds, or this many when it also
# had to build.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# The JVM options the repository's build.sbt gives forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]

# End-to-end metrics: name -> (unit, what it is on each workload).
END_TO_END = {
    "setup_s": ("s", "median of two set-ups: building the four tables "
                     "(mor_read); CREATE and INSERT...SELECT of the v2 table "
                     "(mor_write_maintain); a first pass in a new session "
                     "(query_sweep)"),
    "latency_p50_ms": ("ms", "median read statement (mor_read); median DML "
                             "statement (mor_write_maintain); median over the "
                             "queries of each one's median over the run's "
                             "passes (query_sweep)"),
    "cycle_s": ("s", "median round of 20 reads (mor_read); median lifecycle "
                     "(mor_write_maintain), each the sum of its statements' "
                     "times; the sum over the queries of each one's median "
                     "over the run's passes (query_sweep)"),
    "stored_mb": ("MiB", "the four tables (mor_read); the table just before "
                         "compaction (mor_write_maintain); the lake tables one "
                         "pass writes (query_sweep)"),
}

TABLES = ("pos", "dv", "eq", "clean")
SHAPES = ("scan", "count", "agg", "join", "probe")
DML = ("delete_v2", "update_v2", "delete_dv", "update_dv")
MAINT = ("upgrade", "rewrite_pos", "rewrite_data", "expire")
SELF_SPANS = {
    "self.lakesql_run_ms": "LakeSql.run",
    "self.executed_plan_ms": "executedPlan",
    "self.collect_ms": "collect",
    "self.load_table_ms": "LakeCatalog.loadTable",
    "self.verify_ms": "Verifier.verify",
    "self.add_equality_deletes_ms": "LakeTable.addEqualityDeletes",
    "self.registry_run_ms": "Registry.run",
    "self.materialize_ms": "materialize",
}

READ = "latency_p50_ms and cycle_s on mor_read"
SETUP = "setup_s on mor_read"
DMLM = "latency_p50_ms and cycle_s on mor_write_maintain"
MAINTM = "cycle_s on mor_write_maintain"
SWEEP = "cycle_s and latency_p50_ms on query_sweep"
SWEEP_GROUPS = ("lake", "rel", "llm")
# the sweep's queries (QuerySweep.Queries; test_lakebench checks they agree)
SWEEP_QUERIES = ("q61_incremental_read", "q10_agg_pricing", "q11_join_broadcast",
                 "q28_cosine_topk", "q34_minhash_neardup")


def per_layer_table():
    """(name, unit, better, the end-to-end metric and workload it should
    move). BENCHMARK.json's per_layer list is this table's first three
    columns (test_lakebench checks it)."""
    rows = []
    for t in TABLES:
        rows += [
            (f"read.{t}.p50_ms", "ms", "lower", READ),
            (f"read.{t}.dispatch_ms", "ms", "lower",
             READ + "; LakeSql.run up to the DataFrame, incl. table load, "
                    "DV bitmap collect, equality-file planning"),
            (f"read.{t}.plan_ms", "ms", "lower", READ + "; executedPlan"),
            (f"read.{t}.exec_ms", "ms", "lower", READ + "; collect"),
            (f"read.{t}.jobs", "count", "lower", READ),
            (f"read.{t}.delete_files", "count", "lower", READ + " and stored_mb"),
        ]
    rows += [(f"read.{t}.amp", "ratio", "lower", READ + "; p50 over clean p50")
             for t in TABLES if t != "clean"]
    rows += [(f"read.{s}.p50_ms", "ms", "lower", READ) for s in SHAPES]
    rows += [(f"setup.{s}_ms", "ms", "lower", SETUP)
             for s in ("insert", "delete_pos", "delete_dv", "delete_eq")]
    rows += [(f"dml.{k}.p50_ms", "ms", "lower", DMLM) for k in DML]
    rows += [
        ("dml.jobs", "count", "lower", DMLM),
        ("dml.delete_files_added", "count", "lower", DMLM + " and stored_mb"),
        ("dml.bytes_added_kb", "KiB", "lower", "stored_mb on mor_write_maintain"),
        ("write.insert_ms", "ms", "lower", "cycle_s and setup_s on mor_write_maintain"),
        ("meta.load_ms", "ms", "lower", DMLM + "; read dispatch on mor_read"),
        ("meta.metadata_kb", "KiB", "lower", "stored_mb on mor_write_maintain"),
    ]
    rows += [(f"maint.{m}_ms", "ms", "lower", MAINTM) for m in MAINT]
    rows += [
        ("maint.rewrite_data.files_in", "count", "lower", MAINTM),
        ("maint.rewrite_data.files_out", "count", "lower", MAINTM),
        ("maint.expire.files_deleted", "count", "higher", MAINTM),
        ("maint.delete_files_after", "count", "lower", MAINTM + "; must be 0"),
        ("ops.verify_v2_ms", "ms", "lower", MAINTM),
        ("ops.verify_v3_ms", "ms", "lower", MAINTM),
        ("store.final_mb", "MiB", "lower", "stored_mb on mor_write_maintain"),
        ("engine.jobs_per_op", "count", "lower", "latency_p50_ms on all"),
        ("engine.shuffle_kb_per_op", "KiB", "lower", "latency_p50_ms on all"),
        ("engine.spill_kb_per_op", "KiB", "lower", "latency_p50_ms on all"),
    ]
    rows += [(f"sweep.{g}_s", "s", "lower", SWEEP + f"; every sample of the {g} queries "
              "in a pass") for g in SWEEP_GROUPS]
    rows += [(f"sweep.{q.split('_')[0]}_ms", "ms", "lower", SWEEP + f"; {q}")
             for q in SWEEP_QUERIES]
    rows += [
        ("sweep.build_s", "s", "lower", SWEEP + "; building the DataFrames, per pass"
                                            " (as the three below)"),
        ("sweep.plan_s", "s", "lower", SWEEP + "; analysis, optimization, planning"),
        ("sweep.exec_s", "s", "lower", SWEEP + "; running the plans"),
        ("sweep.jobs", "count", "lower", SWEEP + "; per pass"),
        ("sweep.shuffle_mb", "MiB", "lower", SWEEP + "; per pass"),
        ("sweep.spill_mb", "MiB", "lower", SWEEP + "; per pass"),
    ]
    rows += [(name, "ms", "lower", "latency_p50_ms on all; mean self time per call of "
              + span) for name, span in SELF_SPANS.items()]
    rows += [
        ("env.spin_par_ms", "ms", "lower", "none: machine contention sentinel"),
        ("env.peak_rss_mb", "MiB", "lower", "none: JVM peak resident set (VmHWM)"),
        ("trace.overhead_pct", "%", "lower", "none: traced over untraced statements"),
    ]
    return rows


# ------------------------------------------------------------ arithmetic

def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


LADDER = (50, 75, 90, 95, 99, 99.9)
# a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def samples_beyond(n, q):
    """How many of n samples lie above the q-th percentile's rank."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(n):
    """The highest percentile on the ladder with at least TAIL_SAMPLES
    samples beyond it, or None when not even the median has."""
    ok = [q for q in LADDER if samples_beyond(n, q) >= TAIL_SAMPLES]
    return max(ok) if ok else None


def self_times(spans):
    """Self time (ns) of each span: its duration minus the part of it that
    its children cover. Children may overlap; each instant counts once.
    Keys are (run, id)."""
    kids = defaultdict(list)
    for s in spans:
        kids[(s["run"], s["parent"])].append(s)
    out = {}
    for s in spans:
        a0, a1 = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], a0), min(c["end_ns"], a1))
                     for c in kids[(s["run"], s["id"])])
        covered, cur = 0, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur is None or lo > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[(s["run"], s["id"])] = (a1 - a0) - covered
    return out


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


# ------------------------------------------------------------- reduction

def primary_ops(rec):
    if rec["workload"] == "mor_read":
        return [o for o in rec["ops"] if o["op"] == "read"]
    if rec["workload"] == "query_sweep":
        return [o for o in rec["ops"] if o["op"] == "query"]
    return [o for o in rec["ops"] if o["op"].startswith("dml.") and "ms" in o]


def query_times(rec):
    """query_sweep: each query's time, the median of its samples over the
    run's passes, as graft.Bench reports a query by its median sample."""
    by = defaultdict(list)
    for o in rec["ops"]:
        if o["op"] == "query":
            by[o["name"]].append(o["ms"])
    return [statistics.median(v) for v in by.values()]


def end_to_end(rec):
    ops = rec["ops"]
    if rec["workload"] == "mor_read":
        stored = rec["values"]["stored_bytes"]
    elif rec["workload"] == "query_sweep":
        stored = median([o["bytes"] for o in ops if o["op"] == "sweep.stored"])
    else:
        stored = median([o["stored_bytes"] for o in ops if o["op"] == "store.peak"])
    if rec["workload"] == "query_sweep":
        queries = query_times(rec)
        latency, cycle_ms = median(queries), sum(queries)
    else:
        latency = median([o["ms"] for o in primary_ops(rec)])
        cycle_ms = median([o["ms"] for o in ops if o["op"] == "cycle"])
    return {
        "setup_s": median(rec["setup_s"]),
        "latency_p50_ms": latency,
        "cycle_s": cycle_ms / 1000.0,
        "stored_mb": stored / 2.0 ** 20,
    }


def per_layer(rec):
    ops, values, engine = rec["ops"], rec["values"], rec["engine"]
    m = {name: 0.0 for name, _, _, _ in per_layer_table()}

    def ms(pred):
        return median([o["ms"] for o in ops if pred(o) and "ms" in o])

    def jobs(o):
        return engine.get(o.get("engine_key"), [0, 0, 0])[0]

    reads = [o for o in ops if o["op"] == "read"]
    for t in TABLES:
        mine = [o for o in reads if o["table"] == t]
        if not mine:
            continue
        m[f"read.{t}.p50_ms"] = median([o["ms"] for o in mine])
        for part in ("dispatch", "plan", "exec"):
            m[f"read.{t}.{part}_ms"] = median([o[part + "_ms"] for o in mine])
        m[f"read.{t}.jobs"] = median([jobs(o) for o in mine])
        m[f"read.{t}.delete_files"] = values.get(f"read.{t}.delete_files", 0.0)
    for t in ("pos", "dv", "eq"):
        if m["read.clean.p50_ms"] > 0:
            m[f"read.{t}.amp"] = m[f"read.{t}.p50_ms"] / m["read.clean.p50_ms"]
    for s in SHAPES:
        m[f"read.{s}.p50_ms"] = median([o["ms"] for o in reads if o["shape"] == s])

    spans = rec["spans"]
    for s in ("insert", "delete_pos", "delete_dv", "delete_eq"):
        m[f"setup.{s}_ms"] = median([(x["end_ns"] - x["start_ns"]) / 1e6
                                     for x in spans if x["name"] == f"setup.{s}"])

    dml = [o for o in ops if o["op"].startswith("dml.") and "ms" in o]
    for k in DML:
        m[f"dml.{k}.p50_ms"] = ms(lambda o, k=k: o["op"] == f"dml.{k}")
    m["dml.jobs"] = median([jobs(o) for o in dml])
    added = [o for o in ops if o["op"] == "dml.added"]
    m["dml.delete_files_added"] = median([o["delete_files"] for o in added])
    m["dml.bytes_added_kb"] = median([o["bytes"] / 1024.0 for o in added])
    m["write.insert_ms"] = ms(lambda o: o["op"] == "write.insert")
    m["meta.load_ms"] = ms(lambda o: o["op"] == "meta.load")
    peak = [o for o in ops if o["op"] == "store.peak"]
    m["meta.metadata_kb"] = median([o["metadata_bytes"] / 1024.0 for o in peak])
    for s in MAINT:
        m[f"maint.{s}_ms"] = ms(lambda o, s=s: o["op"] == f"maint.{s}")
    final = [o for o in ops if o["op"] == "store.final"]
    m["maint.rewrite_data.files_in"] = median([o["files_in"] for o in final])
    m["maint.rewrite_data.files_out"] = median([o["files_out"] for o in final])
    m["maint.expire.files_deleted"] = median([o["files_deleted"] for o in final])
    m["maint.delete_files_after"] = max([o["delete_files_after"] for o in final], default=0)
    m["ops.verify_v2_ms"] = ms(lambda o: o["op"] == "ops.verify_v2")
    m["ops.verify_v3_ms"] = ms(lambda o: o["op"] == "ops.verify_v3")
    m["store.final_mb"] = median([o["stored_bytes"] / 2.0 ** 20 for o in final])

    queries = [o for o in ops if o["op"] == "query"]
    passes = defaultdict(list)
    for o in queries:
        passes[o["pass"]].append(o)
    if passes:
        n = len(passes)
        for g in SWEEP_GROUPS:
            m[f"sweep.{g}_s"] = median([sum(o["ms"] for o in p if o["group"] == g) / 1000.0
                                        for p in passes.values()])
        for q in SWEEP_QUERIES:
            m[f"sweep.{q.split('_')[0]}_ms"] = median([o["ms"] for o in queries if o["name"] == q])
        total = sum(o["ms"] for o in queries) / 1000.0 / n
        m["sweep.build_s"] = sum(o["build_ms"] for o in queries) / 1000.0 / n
        m["sweep.plan_s"] = values.get("sweep.plan_ms_total", 0.0) / 1000.0 / n
        m["sweep.exec_s"] = total - m["sweep.build_s"] - m["sweep.plan_s"]
        tot = [sum(engine.get(o["engine_key"], [0, 0, 0])[i] for o in queries) for i in range(3)]
        m["sweep.jobs"] = tot[0] / n
        m["sweep.shuffle_mb"] = tot[1] / 2.0 ** 20 / n
        m["sweep.spill_mb"] = tot[2] / 2.0 ** 20 / n

    timed = [o for o in ops if "engine_key" in o]
    if timed:
        tot = [sum(engine.get(o["engine_key"], [0, 0, 0])[i] for o in timed) for i in range(3)]
        m["engine.jobs_per_op"] = tot[0] / len(timed)
        m["engine.shuffle_kb_per_op"] = tot[1] / 1024.0 / len(timed)
        m["engine.spill_kb_per_op"] = tot[2] / 1024.0 / len(timed)

    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(selfs[(s["run"], s["id"])] / 1e6)
    for metric, span in SELF_SPANS.items():
        if by_name.get(span):
            m[metric] = statistics.fmean(by_name[span])

    m["env.spin_par_ms"] = values["env.spin_par_ms"]
    m["env.peak_rss_mb"] = values["peak_rss_mb"]
    m["trace.overhead_pct"] = trace_overhead_pct(timed)
    return m, {k: {"calls": len(v), "self_ms": round(sum(v), 3)} for k, v in by_name.items()}


def trace_overhead_pct(timed):
    """Median over statement labels of (traced median / untraced median - 1),
    in percent. Each label alternates traced and untraced runs."""
    by = defaultdict(lambda: ([], []))
    for o in timed:
        by[o["engine_key"].split("#")[0]][0 if o["traced"] else 1].append(o["ms"])
    ratios = [statistics.median(a) / statistics.median(b) - 1.0
              for a, b in by.values() if a and b]
    return 100.0 * statistics.median(ratios) if ratios else 0.0


# ----------------------------------------------------------------- build

def spark_jars():
    """The jar directory the repository's build uses (build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    cands = []
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in cands:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("lakebench: no Spark jar directory with a Scala compiler "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not main.is_dir():
        raise SystemExit("lakebench: no program sources at src/main/scala")
    srcs = sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    res_dir = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in res_dir.rglob("*") if p.is_file()) if res_dir.is_dir() else []
    return srcs, res


def build():
    """Compiles into .bench_build/<content hash>/ unless that exists.
    Returns (classes dir, whether it compiled)."""
    jars = spark_jars()
    srcs, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = BUILD / h.hexdigest()[:16]
    if (out / "ok").exists():
        return out / "classes", False
    if BUILD.exists():
        shutil.rmtree(BUILD)
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    # quoted, so a checkout path with spaces survives the argument file
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp, "@" + str(argfile)]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_LIMIT_S - 60)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("lakebench: compile failed")
    res_root = ROOT / "src" / "main" / "resources"
    for p in res:
        dst = classes / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (out / "ok").write_text("")
    return classes, True


def sweep_data(classes):
    """query_sweep's fixed inputs: written by the first sweep run of a
    build, beside the build, and reused while the build is."""
    return classes.parent / "sweep-data"


def run_jvm(classes, workload, seed, seconds, trace, limit_s, extra=()):
    """Runs one workload; returns its raw record."""
    work = RUNS / f"{workload}-{seed}-t{trace}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    record = work / "record.json"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + str(work / "tmp"), "-cp",
           f"{classes}{os.pathsep}{spark_jars() / '*'}", "lakebench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", str(work), "--out", str(record)] + list(extra))
    log = work / "jvm.log"
    try:
        with open(log, "w") as f:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                               timeout=max(limit_s, 1))
        if r.returncode != 0 or not record.exists():
            sys.stderr.write(log.read_text()[-6000:])
            raise SystemExit(f"lakebench: {workload} exited with {r.returncode}")
        rec = json.loads(record.read_text())
    except subprocess.TimeoutExpired:
        sys.stderr.write(log.read_text()[-3000:])
        raise SystemExit(f"lakebench: {workload} did not finish in {limit_s:.0f} s")
    finally:
        keep = RUNS / "records"
        keep.mkdir(parents=True, exist_ok=True)
        if record.exists():
            shutil.copyfile(record, keep / f"{workload}-{seed}-t{trace}.json")
        shutil.rmtree(work, ignore_errors=True)
    return rec


def record_fingerprints():
    """Runs query_sweep's set-up passes and writes each query's answer
    fingerprint to FINGERPRINTS. Every pass must agree and no query may
    fail."""
    classes, _ = build()
    rec = run_jvm(classes, "query_sweep", 1, 1, 0, BUILD_LIMIT_S,
                  ["--record", "1", "--data", str(sweep_data(classes))])
    seen = defaultdict(set)
    for o in rec["ops"]:
        if o["op"] == "sweep.fingerprint":
            seen[o["name"]].add(o["fingerprint"])
    bad = {n: v for n, v in seen.items() if len(v) != 1 or next(iter(v)).startswith("error")}
    if bad or not seen:
        raise SystemExit(f"lakebench: unstable or failing answers: {bad}")
    FINGERPRINTS.write_text("".join(f"{n}\t{next(iter(v))}\n" for n, v in sorted(seen.items())))
    print(f"recorded {len(seen)} fingerprints in {FINGERPRINTS.relative_to(ROOT)}")
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the expected-answer replays at sf0.001 size")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="record the query_sweep answers of this code as the expected ones")
    a = ap.parse_args(argv)
    t0 = time.monotonic()
    if a.record_fingerprints:
        return record_fingerprints()
    if a.selftest:
        a.workload, a.seed, a.seconds, a.trace = "selftest", a.seed or 7, 0, 0
    elif a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    extra = []
    if a.workload == "query_sweep":
        if not FINGERPRINTS.exists():
            raise SystemExit(f"lakebench: no recorded answers at {FINGERPRINTS}")
        extra = ["--fingerprints", str(FINGERPRINTS)]
    classes, built = build()
    if a.workload == "query_sweep":
        extra += ["--data", str(sweep_data(classes))]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    rec = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, limit, extra)
    checks = rec["checks"]
    summary = {
        "workload": rec["workload"], "seed": rec["seed"], "inputs": rec["inputs"],
        "rows": rec["rows"], "seconds": rec["seconds"], "spark_config": rec["config"],
        "samples": len(primary_ops(rec)) if a.workload in WORKLOADS else 0,
        "env.spin_par_ms": rec["values"]["env.spin_par_ms"],
        "failures": checks["failures"][:5],
    }
    if a.workload in WORKLOADS:
        n = summary["samples"]
        q = tail_percentile(n)
        summary["tail"] = ({"percentile": q, "ms": percentile(
            [o["ms"] for o in primary_ops(rec)], q)} if q else None)
    if a.trace:
        metrics, self_ms = per_layer(rec)
        summary["self_time"] = self_ms
        summary["moves"] = {name: mv for name, _, _, mv in per_layer_table()}
        units = {name: unit for name, unit, _, _ in per_layer_table()}
    else:
        metrics = end_to_end(rec) if a.workload in WORKLOADS else {}
        units = {k: v[0] for k, v in END_TO_END.items()}
    print(json.dumps({"lakebench": summary}, sort_keys=True))
    print(json.dumps({
        "correct": checks["failed"] == 0 and checks["attempted"] > 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    # a wrong answer is reported through "correct"; only the self-test
    # signals it through the exit code
    return 1 if a.selftest and checks["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
