#!/usr/bin/env python3
"""graft's benchmark: one command builds graft and the harness from source,
runs one workload in a closed loop, checks every answer and prints the
metrics. Run it from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads: olap, curation_streaming (see workloads.py) and lakehouse (see
lakehouse.py). With --trace 0 the last line holds the end-to-end metrics;
with --trace 1 it holds the per-layer metrics of a traced run and the
tracing overhead: the traced wall time minus the wall time of an untraced
run with the same seed, made just before it. The line before the last
one, "perfbench-detail", holds every metric with its percentile and
sample count, the run-quality fields and the answer checks.

Build outputs, oracle answers, traces and results go under
$CARGO_TARGET_DIR (default .bench_build) in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lakehouse  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("olap", "curation_streaming", "lakehouse")
# Set-up repetitions of a run; a traced run and the untraced run it is
# paired with set up once each.
SETUP_REPS = 3
JVM_TIMEOUT_S = 170
# A few oracle queries are quadratic in DuckDB at this scale; their members
# get the rows-and-schema check instead, and the detail line names them.
ORACLE_TIMEOUT_S = 10
# The metrics of the last output line; BENCHMARK.json lists the same names.
# Workload-specific metrics (the lakehouse's read and write latencies and
# amplification, the streaming workload's batch latencies and throughput)
# and failed_frac are in the detail line.
E2E_METRICS = ("setup_s", "wall_s", "heap_live_mb")
# The streaming queries keep their checkpoints and output under this fixed
# directory; a run removes what it added there.
STREAM_SCRATCH = "/dev/shm/graft_stream"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    """Classpath of the Spark jars graft builds against: $SPARK_HOME/jars,
    else the `unmanagedBase` directory that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return jars + "/*"


def tree_hash(root, paths, extra=""):
    """Hash of the files' paths relative to `root` and their contents."""
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(out, sources, classpath, log):
    """Compiles into `out` unless a finished build is already there."""
    if os.path.exists(os.path.join(out, ".done")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", classpath, "-d", tmp, "@" + args_file]
    with open(log, "w") as lf:
        if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
            raise BenchError(f"compilation failed, see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()


def jar(classes):
    """A jar of a class directory, next to it. Class data sharing archives
    classes from jars only."""
    path = classes + ".jar"
    if not os.path.exists(path):
        with zipfile.ZipFile(path + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    if f != ".done":
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        os.rename(path + ".tmp", path)
    return path


def build(root, build_dir):
    """(graft jar, harness jar, build key) built from source."""
    graft_src = scala_sources(os.path.join(root, "src", "main", "scala"))
    if not graft_src:
        raise BenchError("no graft sources under src/main/scala; run from the repository root")
    harness_src = scala_sources(os.path.join(HERE, "harness"))
    gkey = tree_hash(root, graft_src)
    graft = os.path.join(build_dir, f"graft-{gkey}")
    scalac(graft, graft_src, "", os.path.join(build_dir, "graft-build.log"))
    hkey = tree_hash(root, harness_src, gkey)
    harness = os.path.join(build_dir, f"harness-{hkey}")
    scalac(harness, harness_src, graft, os.path.join(build_dir, "harness-build.log"))
    return jar(graft), jar(harness), gkey


def java_cmd(graft, harness, work, heap, cds):
    """The harness JVM's command line. `cds` is the class data sharing
    archive to use, or ("dump", path) to write one at exit."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    share = (f"-XX:ArchiveClassesAtExit={cds[1]}" if isinstance(cds, tuple)
             else f"-XX:SharedArchiveFile={cds}")
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g",
            share, f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-cp", f"{harness}:{graft}:{spark_jars()}", "graft.perfbench.PerfBench"]


def cds_archive(graft, harness, fixtures, build_dir, env, heap, cpus):
    """A class data sharing archive of the classes that session start, the
    warm-up and a table load use, made once per build and heap size. Every
    run maps it, which takes about 5 s of class loading off each JVM's
    start; without a usable archive the JVM loads classes as usual."""
    path = os.path.join(build_dir, f"{os.path.basename(harness)[:-4]}-{heap}.jsa")
    if not os.path.exists(path):
        work = os.path.join(build_dir, "runs", f"train-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d))
        plan = os.path.join(work, "plan.json")
        with open(plan, "w") as f:
            json.dump({"fixtures": fixtures, "work": work, "cpus": cpus}, f)
        try:
            run_java(java_cmd(graft, harness, work, heap, ("dump", path + ".tmp"))
                     + ["--train", plan], os.path.join(build_dir, "cds-train.log"), env)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        os.rename(path + ".tmp", path)
    return path


def run_java(cmd, log, env):
    """Runs the harness JVM, waits for it, and kills it if it overruns."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness JVM overran {JVM_TIMEOUT_S} s, see {log}")
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BenchError(f"harness JVM exited with {rc}:\n{tail}")


def oracle_answers(graft, harness, gkey, fixtures, build_dir, env, heap, cpus, cds):
    """DuckDB fingerprints of every sampled member's oracle query, computed
    once per build for all workloads, so that only the first run in a
    checkout pays for them."""
    cache = os.path.join(build_dir, f"oracle-{gkey}")
    os.makedirs(cache, exist_ok=True)
    sql_file = os.path.join(cache, "oracle_sql.json")
    if not os.path.exists(sql_file):
        work = os.path.join(cache, "dump")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        run_java(java_cmd(graft, harness, work, heap, cds) + ["--oracle", sql_file + ".tmp"],
                 os.path.join(cache, "dump.log"), env)
        os.rename(sql_file + ".tmp", sql_file)
    with open(sql_file) as f:
        sqls = json.load(f)
    answers, con = {}, None
    for _, name in (m for w in workloads.WORKLOADS for m in workloads.sample(w)):
        if name not in sqls:
            continue
        path = os.path.join(cache, name + ".json")
        if not os.path.exists(path):
            con = con or oracle.connect(fixtures, cpus)
            with open(path + ".tmp", "w") as f:
                json.dump(oracle.fingerprint(con, sqls[name], ORACLE_TIMEOUT_S), f)
            os.rename(path + ".tmp", path)
        with open(path) as f:
            answers[name] = json.load(f)
    return answers


def make_plan(args, work, fixtures, cpus):
    plan = {"workload": args.workload, "seed": args.seed, "fixtures": fixtures,
            "work": work, "seconds": args.seconds, "cpus": cpus,
            "setup_reps": 1 if args.trace else SETUP_REPS}
    extra = {}
    if args.workload == "lakehouse":
        ops, tax_after, user_bytes = lakehouse.make_plan(args.seed, fixtures, work)
        plan["ops"] = ops
        extra = {"tax_after": tax_after, "user_bytes": user_bytes}
    else:
        plan["members"] = workloads.member_plan(args.workload, args.seed)
    return plan, extra


def stream_scratch():
    try:
        return set(os.listdir(STREAM_SCRATCH))
    except OSError:
        return set()


def run_once(args, traced, ctx):
    """Runs the harness once and returns its record, the plan and extras."""
    work = os.path.join(ctx["build_dir"], "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    plan, extra = make_plan(args, work, ctx["fixtures"], ctx["cpus"])
    plan["trace"] = traced
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    out = os.path.join(work, "out.json")
    scratch_before = stream_scratch()
    try:
        run_java(java_cmd(ctx["graft"], ctx["harness"], work, ctx["heap"], ctx["cds"])
                 + [plan_file, out],
                 os.path.join(work, "harness.log"), ctx["env"])
        with open(out) as f:
            rec = json.load(f)
        checks = check(args.workload, rec, plan, extra, ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in stream_scratch() - scratch_before:
            shutil.rmtree(os.path.join(STREAM_SCRATCH, d), ignore_errors=True)
    return rec, plan, extra, checks


def check(workload, rec, plan, extra, ctx):
    """[(item index, failure message)] over every checked output."""
    items = rec["result"]["items"]
    failures = []
    if workload == "lakehouse":
        executed = {it["i"]: it for it in items}
        con, fails = lakehouse.replay(ctx["fixtures"], plan["ops"], executed, extra["tax_after"])
        failures += sorted(fails.items())
        last = items[-1]["i"] if items else -1
        want = lakehouse.final_groups(con, extra["tax_after"][last])
        got = sorted(rec["after"]["final_groups"])
        if got != want:
            failures.append(("final", f"final snapshot {got} != replay {want}"))
        return failures
    first_schema = {}
    for k, it in enumerate(items):
        if it.get("error"):
            failures.append((k, f"{it['name']}: {it['error']}"))
            continue
        ans = ctx["answers"].get(it["name"])
        if ans is None or "skipped" in ans:
            why = oracle.rows_and_schema(it["schema"], it["fp"], first_schema.get(it["name"]))
            first_schema.setdefault(it["name"], it["schema"])
        else:
            why = oracle.compare(ans, it["schema"], it["fp"])
        if why:
            failures.append((k, f"{it['name']}: {why}"))
    return failures


def to_s(rec, ms):
    return (ms - rec["epoch_ms0"]) / 1000.0


def end_to_end(workload, rec, extra, checks):
    res = rec["result"]
    items = res["items"]
    lat = [it["t2"] - it["t0"] for it in items]
    q = metrics.percentile_summary(lat)
    setup = rec["setup"]
    setup_s = setup["session_s"] + sum(
        statistics.median(setup[k]) for k in ("warm_s", "load_s") if setup[k])
    attempted = len(items) + (1 if workload == "lakehouse" else 0)
    out = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p["t1"] - p["t0"] for p in res["passes"]), "s"),
        "query_s.p50": (q["p50"], "s"),
        "query_s.tail": (q["tail"], "s"),
        "failed_frac": (len(checks) / attempted, "ratio"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
        "heap_peak_after_gc_mb": (rec["heap_peak_after_gc_mb"], "MB"),
    }
    pct = {"query_s": q}
    if workload == "lakehouse":
        for cls, name in (("write", "write_s"), ("read", "read_s")):
            s = metrics.percentile_summary(
                [it["t2"] - it["t0"] for it in items if it["class"] == cls])
            out[f"{name}.p50"] = (s["p50"], "s")
            out[f"{name}.tail"] = (s["tail"], "s")
            pct[name] = s
        after = rec["after"]
        user = sum(extra["user_bytes"].get(it["i"], 0) for it in items)
        out["write_amp"] = (metrics.write_amp(after["written_bytes"], user), "ratio")
        out["space_amp"] = (metrics.space_amp(after["table_bytes"], after["compacted_bytes"]), "ratio")
    batches = batches_in(rec)
    if batches:
        b = metrics.percentile_summary(
            [x["duration_ms"].get("triggerExecution", 0) / 1e3 for x in batches])
        out["batch_s.p50"] = (b["p50"], "s")
        out["batch_s.tail"] = (b["tail"], "s")
        pct["batch_s"] = b
        out["stream_rows_per_s"] = (metrics.rate(
            sum(x["input_rows"] for x in batches),
            sum(it["t1"] - it["t0"] for it in items if it["name"] in workloads.STREAM_MEMBERS)),
            "rows/s")
    return out, pct, attempted


def batches_in(rec):
    """Progress of the micro-batches that started in the measured interval."""
    m0, m1 = rec["measure"]["t0"], rec["measure"]["t1"]
    return [dict(b, t0=to_s(rec, b["start_ms"])) for b in rec["batches"]
            if m0 <= to_s(rec, b["start_ms"]) <= m1]


def spans_of(rec):
    """Harness spans: workload > item > build | sink."""
    res = rec["result"]
    m = rec["measure"]
    spans = [{"id": 0, "parent": None, "kind": "workload", "name": rec["workload"],
              "t0": m["t0"], "t1": m["t1"]}]
    for it in res["items"]:
        iid = len(spans)
        spans.append({"id": iid, "parent": 0, "kind": "item", "name": it["name"],
                      "module": it["module"], "t0": it["t0"], "t1": it["t2"]})
        spans.append({"id": iid + 1, "parent": iid, "kind": "build", "name": it["name"],
                      "t0": it["t0"], "t1": it["t1"]})
        spans.append({"id": iid + 2, "parent": iid, "kind": "sink", "name": it["name"],
                      "t0": it["t1"], "t1": it["t2"]})
    return spans


def per_layer(workload, rec, cpus):
    """Per-layer metrics of a traced run, and its spans for the trace file."""
    tr = rec["trace"]
    m0, m1 = rec["measure"]["t0"], rec["measure"]["t1"]
    wall = m1 - m0
    spans = spans_of(rec)
    harness = list(spans)
    jobs = []
    for j in tr["jobs"]:
        t0, t1 = to_s(rec, j["start_ms"]), to_s(rec, j["end_ms"])
        if t1 < m0 or t0 > m1:
            continue
        parent = metrics.attribute(t0, harness)
        jobs.append(dict(j, t0=t0, t1=t1, parent=parent["id"] if parent else 0))
        spans.append({"id": len(spans), "parent": jobs[-1]["parent"], "kind": "job",
                      "name": f"job {j['id']}", "t0": t0, "t1": t1, "tasks": j["tasks"]})
    plans = []
    for p in tr["plans"]:
        if "analysis" not in p:
            continue
        t0 = to_s(rec, p["analysis"]["start_ms"])
        if m0 <= t0 <= m1:
            plans.append(p)
            t1 = max(to_s(rec, ph["end_ms"]) for ph in p.values())
            parent = metrics.attribute(t0, harness)
            spans.append({"id": len(spans), "parent": parent["id"] if parent else 0,
                          "kind": "sql", "name": "planning", "t0": t0, "t1": t1})
    batches = batches_in(rec)
    for b in batches:
        parent = metrics.attribute(b["t0"], harness)
        spans.append({"id": len(spans), "parent": parent["id"] if parent else 0,
                      "kind": "batch", "name": "micro-batch", "t0": b["t0"],
                      "t1": b["t0"] + b["duration_ms"].get("triggerExecution", 0) / 1e3,
                      "input_rows": b["input_rows"]})

    busy, driver_only = metrics.busy_and_driver_only((m0, m1), [(j["t0"], j["t1"]) for j in jobs])
    single = [j for j in jobs if j["tasks"] == 1]
    by_id = {s["id"]: s for s in spans}

    def kind_of(j):
        return by_id[j["parent"]]["kind"]

    items = rec["result"]["items"]
    out = {
        "entry.build_s": sum(it["t1"] - it["t0"] for it in items),
        "entry.sink_s": sum(it["t2"] - it["t1"] for it in items),
        "entry.eager_n": len({j["parent"] for j in jobs if kind_of(j) == "build"}),
        "jobs.n": len(jobs),
        "jobs.single_task_n": len(single),
        "jobs.single_task_s": sum(j["t1"] - j["t0"] for j in single),
        "jobs.busy_s": busy,
        "driver_only_s": driver_only,
        "traced.wall_s": wall,
        "tasks.n": sum(j["tasks"] for j in jobs),
        "tasks.run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "tasks.cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "tasks.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle.read_mb": sum(j["shuffle_read"] for j in jobs) / 2**20,
        "shuffle.write_mb": sum(j["shuffle_write"] for j in jobs) / 2**20,
        "spill_mb": sum(j["spill"] for j in jobs) / 2**20,
        "input_mb": sum(j["input"] for j in jobs) / 2**20,
        "plan.n": len(plans),
        "cache.retained_mb": max((it.get("storage_mb", 0.0) for it in items), default=0.0),
        "jvm.gc_s": rec["gc_s"],
        "jvm.heap_after_gc_mb": rec["heap_peak_after_gc_mb"],
    }
    out["core_util"] = out["tasks.run_s"] / (wall * cpus) if wall > 0 else 0.0
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_s"] = sum(
            (p[phase]["end_ms"] - p[phase]["start_ms"]) / 1e3 for p in plans if phase in p)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for kind in ("build", "sink"):
        out[f"self_s.{kind}"] = sum(metrics.self_time(s, children.get(s["id"], []))
                                    for s in spans if s["kind"] == kind)
    modules = {m for gs in workloads.WORKLOADS.values() for g in gs for m in g} | {"sources"}
    for mod in sorted(modules):
        out[f"module_s.{mod}"] = sum(it["t2"] - it["t0"] for it in items if it["module"] == mod)
    kinds = sorted(set(lakehouse.WRITES) | set(lakehouse.READS) | {"compact"})
    for kind in kinds:
        mine = [it for it in items if workload == "lakehouse" and it["name"] == kind]
        out[f"op_s.{kind}.p50"] = statistics.median(
            [it["t2"] - it["t0"] for it in mine]) if mine else 0.0
        ids = {s["id"] for s in spans if s["kind"] in ("item", "build", "sink")
               and s["name"] == kind}
        n_jobs = sum(1 for j in jobs if j["parent"] in ids)
        out[f"op_jobs.{kind}"] = n_jobs / len(mine) if mine else 0.0
    after = rec.get("after") or {}
    out["table.versions"] = after.get("version", 0)
    out["table.live_files"] = after.get("live_files", 0)
    out["manifest.bytes_written"] = after.get("manifest_bytes_written", 0)
    out["manifest.bytes_last"] = after.get("manifest_bytes_last", 0)
    out["data.bytes_written"] = after.get("data_bytes_written", 0)
    stream_items = [it for it in items if it["name"] in workloads.STREAM_MEMBERS]
    out.update(metrics.stream_layer(batches, sum(it["t1"] - it["t0"] for it in stream_items)))
    return out, spans


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.startswith(("module_s.", "op_s.", "self_s.")) or name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_util"):
        return "ratio"
    if name.startswith(("manifest.bytes", "data.bytes")):
        return "bytes"
    return "count"


def emit(correct, attempted, failed, metrics_out, detail):
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics_out}))


def run_quality(rec, cpus, heap):
    env = rec["env"]
    return {"nproc": env["nproc"], "SPARK_GRAFT_CPUS": cpus, "xmx": env["xmx"] or heap,
            "jdk": env["jdk"], "spark": env["spark"], "steal_share": rec["steal"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    fixtures = os.path.join(HERE, "fixtures", "sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    heap = os.environ.get("SPARK_DRIVER_MEM") or "4g"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    graft, harness, gkey = build(root, build_dir)
    cds = cds_archive(graft, harness, fixtures, build_dir, env, heap, cpus)
    ctx = {"build_dir": build_dir, "fixtures": fixtures, "cpus": cpus, "heap": heap,
           "env": env, "graft": graft, "harness": harness, "cds": cds,
           "answers": oracle_answers(graft, harness, gkey, fixtures, build_dir, env, heap,
                                     cpus, cds)}

    # Every run makes an untraced run; a traced run follows it with the
    # same seed, and the difference of their wall times is the tracing
    # overhead. The end-to-end metrics always come from the untraced run.
    rec, _, extra, checks = run_once(args, False, ctx)
    e2e, pct, attempted = end_to_end(args.workload, rec, extra, checks)
    out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k in E2E_METRICS}
    if args.trace:
        trec, _, textra, tchecks = run_once(args, True, ctx)
        te2e, _, tattempted = end_to_end(args.workload, trec, textra, tchecks)
        layers, spans = per_layer(args.workload, trec, cpus)
        layers["tracing_overhead_s"] = te2e["wall_s"][0] - e2e["wall_s"][0]
        checks, attempted = checks + tchecks, attempted + tattempted
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "run_quality": run_quality(rec, cpus, heap),
              "setup": rec["setup"],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              "percentiles": pct,
              "items": [[it["name"], round(it["t2"] - it["t0"], 4)] for it in rec["result"]["items"]],
              "failures": [f"{k}: {msg}" for k, msg in checks],
              "rows_and_schema_checked": sorted({
                  it["name"] for it in rec["result"]["items"]
                  if "skipped" in ctx["answers"].get(it["name"], {"skipped": 1})})
              if args.workload != "lakehouse" else []}
    if args.trace:
        detail["run_quality"]["tracing_overhead_s"] = layers["tracing_overhead_s"]
        detail["per_layer"] = layers
        detail["trace_file"] = os.path.relpath(trace_file, root)
    emit(not checks, attempted, len(checks), out, detail)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
