#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 starbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt into the build directory (CARGO_TARGET_DIR if
set, else .bench_build); later runs reuse the build while the sources are
unchanged. Each run then

  1. generates the input tables from the seed (gen_data.py),
  2. starts one JVM with Spark local[4] and warms the workload up,
  3. runs ops back to back for --seconds, whole op slots,
  4. checks every op's output (DuckDB oracle, or graft's batch operators),
  5. prints one info line and, as the last line, the result JSON.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the same workload with spans recorded on every other op and prints the
per-layer metrics, writing the spans beside the run record.

See BENCHMARK.md in this directory for the workloads and the metrics.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

SCALE = 0.01  # 15,000 orders, 60,000 lineitems
# the whole command, build excepted, at the window of --seconds 10; longer
# windows get a deadline in proportion to their op count
DEADLINE_S = 170
# a fixed heap and young generation keep the resident set (peak_rss_mb)
# from following G1's timing-driven resizing; a fixed set of JIT compiler
# threads lets the harness subtract their CPU time from each op's
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UseDynamicNumberOfCompilerThreads"]

STAR_QUERIES = ["tpch_q3", "tpch_q18", "q_topk_rewrite", "scd2_asof"]
CURATION_QUERIES = ["dedup_minhash", "dedup_clusters", "fingerprint_winnow"]
QUERIES = STAR_QUERIES + CURATION_QUERIES

# warm: warm-up ops before the window (rebuilds, days, or query passes).
# per_10s: window ops per 10 s of --seconds, about what a warmed-up run
# finishes in that time; the window holds a fixed number of ops so that
# every run measures the same ops at the same JIT age.
WORKLOADS = {
    "star_rebuild": {"warm": 1, "per_10s": 3},
    "daily_backfill": {"warm": 1, "per_10s": 2},
    "query_mix": {"warm": 1, "per_10s": len(QUERIES)},
}


def window_ops(workload, seconds):
    """Op slots in the window; query_mix gets whole passes."""
    w = WORKLOADS[workload]
    n = max(1, round(seconds * w["per_10s"] / 10.0))
    if workload == "query_mix":
        n = max(1, round(n / len(QUERIES))) * len(QUERIES)
    return n


def deadline_s(workload, seconds):
    """Time allowed for one run's JVM: DEADLINE_S, scaled up with the
    window's op count beyond that of a 10 s window."""
    return DEADLINE_S * max(1.0, window_ops(workload, seconds) / window_ops(workload, 10))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"starbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(bdir):
    """Build graft and the harness if the sources changed. Returns the
    runtime classpath and the class-data-sharing archive.

    The build compiles with sbt, packs the classes into a jar, and runs
    every workload's warm-up once with -XX:ArchiveClassesAtExit: the
    archive lets each benchmark JVM map the classes it will load instead of
    parsing and verifying them from the jars, which takes seconds of every
    run's set-up otherwise. The build fails when that training run fails,
    so every run of a build uses the archive."""
    out = os.path.join(bdir, "starbench")
    stamp_f, cp_f = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    jsa = os.path.join(out, "classes.jsa")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == stamp:
                with open(cp_f) as g:
                    return g.read(), jsa
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dstarbench.target={os.path.join(out, 'target')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=600)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}", 1)
    # class-data sharing archives classes from jars only
    entries = []
    for e in lines[-1].strip().split(os.pathsep):
        if os.path.isdir(e):
            jar = os.path.join(out, f"classes{len(entries)}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for dp, _, fs in os.walk(e):
                    for f in sorted(fs):
                        z.write(os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    work = os.path.join(out, "train")
    data = os.path.join(work, "data")
    gen_data.write(data, 0, SCALE)
    args = {"workload": ",".join(sorted(WORKLOADS)), "train": 1, "data": data, "work": work,
            "ops": 0, "trace": 0, "seed": 0, "warm": 1, "out": os.path.join(work, "unused"),
            "days": ",".join(backfill_days(data, 0)), "queries": ",".join(QUERIES),
            "star": ",".join(STAR_QUERIES)}
    code, log = run_jvm(cp, work, args, time.monotonic() + 300,
                        [f"-XX:ArchiveClassesAtExit={jsa}"])
    if code != 0 or not os.path.exists(jsa):
        kept = os.path.join(out, "train.log")
        shutil.copy(log, kept)
        shutil.rmtree(work, ignore_errors=True)
        fail("the class-data-sharing training run " +
             ("timed out" if code is None else f"exited with {code}") + f", see {kept}", 1)
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp, jsa


def backfill_days(data_dir, seed, n=100):
    """n consecutive order dates from a seed-chosen start, with room left
    after it for the window."""
    us = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=["o_orderdate"]) \
        .column(0).cast("int64").to_pylist()
    days = sorted({u // 86_400_000_000 for u in us})
    start = random.Random(seed).randrange(0, len(days) - n)
    return [str(dt.date(1970, 1, 1) + dt.timedelta(days=d)) for d in days[start:start + n]]


def cpu_times():
    """The aggregate line of /proc/stat: user nice system idle iowait irq
    softirq steal, in clock ticks; empty where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_frac(a, b):
    """Share of the CPU time the VM wanted that its hypervisor gave to
    someone else between two cpu_times() readings (None off Linux)."""
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def run_jvm(cp, work, args, deadline, jvm_opts=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_OPTS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm_opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "starbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=os.path.join(work, "fixtures"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None, log
    return r.returncode, log


def check_outputs(workload, rec, data_dir):
    """Failed op ids, plus a list of problems for the info line."""
    ops, check = rec["ops"], rec["check"]
    bad, problems = set(), []
    if workload == "daily_backfill":
        if check["problems"]:
            problems += check["problems"]
            bad = {o["id"] for o in ops}
        return bad, problems
    con = oracle.connect(data_dir)
    if workload == "star_rebuild":
        tables = {"fact_orders": "core/fact_orders", "sales_summary": "datamart/sales_summary",
                  "customer_analytics": "datamart/customer_analytics"}
        for o in ops:
            if not o["ok"]:
                continue
            for name, rel in tables.items():
                why = oracle.compare(con, os.path.join(o["warehouse"], rel), check["oracle"][name])
                if why:
                    problems.append(f"op {o['id']} {name}: {why}")
                    bad.add(o["id"])
    else:
        for name, sql in sorted(check["oracle"].items()):
            why = oracle.compare(con, os.path.join(check["outputs"], name), sql)
            if why:
                problems.append(f"{name}: {why}")
                bad |= {o["id"] for o in ops if o["kind"] == name}
    return bad, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    bdir = build_dir()
    cp, jsa = build(bdir)
    deadline = time.monotonic() + deadline_s(a.workload, a.seconds)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen_data.write(data, a.seed, SCALE)
        args = {"workload": a.workload, "data": data, "work": work,
                "ops": window_ops(a.workload, a.seconds),
                "trace": a.trace, "seed": a.seed, "warm": WORKLOADS[a.workload]["warm"],
                "out": os.path.join(work, "record.json")}
        if a.workload == "daily_backfill":
            args["days"] = ",".join(backfill_days(data, a.seed))
        if a.workload == "query_mix":
            args["queries"] = ",".join(QUERIES)
            args["star"] = ",".join(STAR_QUERIES)
        cpu0 = cpu_times()
        # -Xshare:on: a JVM that cannot map the archive fails instead of
        # silently loading every class from the jars
        code, log = run_jvm(cp, work, args, deadline,
                            [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"])
        cpu1 = cpu_times()
        if code != 0 or not os.path.exists(args["out"]):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("the benchmark JVM " + ("timed out" if code is None else f"exited with {code}"), 1)
        with open(args["out"]) as f:
            rec = json.load(f)
        bad, problems = check_outputs(a.workload, rec, data)
        for o in rec["ops"]:
            if o["id"] in bad:
                o["ok"] = False
        ops = rec["ops"]
        if a.trace:
            if a.workload == "daily_backfill":
                st = rec["storage"]
                rec["storage"]["generations_per_op"] = \
                    (st["fact_generations"] + st["summary_generations"]) / max(1, len(ops))
            values = metrics.per_layer(ops, rec["spans"], rec["plans"], rec["storage"])
            wanted = spec["per_layer"]
            with open(os.path.join(results, f"spans-{tag}.json"), "w") as f:
                json.dump({"spans": rec["spans"], "plans": rec["plans"]}, f)
        else:
            values = metrics.e2e(ops, rec["setup_s"], rec["peak_rss_kb"])
            wanted = spec["end_to_end"]
        rec.pop("spans", None)
        rec.pop("plans", None)
        walls = [metrics.op_wall_s(o) for o in ops if o["ok"]]
        tail = metrics.tail_percentile(walls) if walls else None
        info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": rec["env"],
                "ops": len(ops), "window_s": rec["window_s"],
                "ops_per_min": sum(o["ok"] for o in ops) / (rec["window_s"] / 60.0),
                "warmup_s": rec["warmup_s"], "setup_cpu_s": rec["setup_cpu_s"],
                "steal_frac": steal_frac(cpu0, cpu1),
                "session_s": rec["session_s"],
                "tail": {"p": tail[0], "s": tail[1]} if tail else "fewer than 10 samples beyond p50",
                "op_s": metrics.typical_op(ops),
                "op_cpu_s": [round(o["cpu_s"], 4) for o in ops],
                "op_jit_s": [round(o["jit_s"], 4) for o in ops],
                "op_gc_s": [round(o["gc_s"], 4) for o in ops],
                "op_walls": {k: [round(metrics.op_wall_s(o), 4) for o in ops if o["kind"] == k]
                             for k in sorted({o["kind"] for o in ops})},
                "problems": problems + [f"op {o['id']} {o['kind']}: {o['error']}" for o in ops if o["error"]]}
        rec["info"] = info
        out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        failed = sum(1 for o in ops if not o["ok"])
        result = {"correct": failed == 0 and len(ops) > 0, "attempted": len(ops), "failed": failed,
                  "metrics": out}
        rec["result"] = result
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump(rec, f)
        print(json.dumps({"info": info}))
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
