#!/usr/bin/env python3
"""The repository benchmark: one command for the `board` and `serve`
workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the engine and the
benchmark's own JVM side (perfbench/scala) with the Scala compiler that
ships in Spark's jars, into .bench_build/. It then generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload on
them in one JVM, checks every output against answers DuckDB computes from the
same generated files (perfbench/expect.py), and prints the metrics.

Every workload reports the same end-to-end metrics:

    setup_s           Spark session start plus the median of several
                      set-up rounds (load or build the data, warm up)
    latency_ms        typical latency of one operation at one client
    throughput_per_s  operations (or rows) completed per second

where, per workload:

    board   latency is the geometric mean over rows of each row's
            median time over the passes, built and written through the
            noop sink;
            throughput is rows per second of the median pass
    serve   latency is the median HTTP request latency at 1 client;
            throughput is requests per second at `nproc` clients, as
            clients over the mean latency (Little's law)

The second-to-last stdout line holds the workload's own figures (board
total and geomean, serve c1/c4 percentiles), the environment (cal0 box
probe, nproc, heap) and, with --trace 1, the self time of every traced
span. The last line is the
result: {"correct", "attempted", "failed", "metrics"}; with --trace 1 the
metrics are the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 150
HEAP = "3g"

# TPC-H Q1, the tick core (range scan, symbols, OHLCV bars, the native
# as-of join, the native column format) and streaming ingest into a
# ZTable: seven rows, about four seconds a pass on 4 cores. The fixpoint
# rows are left out: their DuckDB oracles alone take longer than a whole
# run may.
BOARD_ROWS = [
    "q1_pricing", "s1_scan_range", "c1_symbols", "a4_ohlcv_resample",
    "j8_join_asof_native", "s6_native_roundtrip", "stream2_ingest",
]
SIZES = {
    "board_sf": 0.01,
    "ticks": 300_000, "symbols": 200, "days": 20, "mix_blocks": 20,
    "setup_rounds": 3,
}
SERVE_OPS = ["ohlcv", "scan", "sql", "symbols", "range"]
WORKLOADS = ["board", "serve"]
END_TO_END = {"setup_s": "s", "latency_ms": "ms", "throughput_per_s": "1/s"}

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# sbt build passes to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanaged jar
    directory the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def build(jars):
    """Compile src/main/scala plus the benchmark's Scala into
    .bench_build/classes, unless the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise SystemExit("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp, classes = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run([java_bin(), "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f}s")
    return classes


# ---------------------------------------------------------------- inputs

def prepare(workload, seed, work):
    """Generate the workload's inputs; return (plan for the JVM, context
    the checks need)."""
    inp = os.path.join(work, "inputs")
    os.makedirs(inp)
    plan = {"setup_rounds": SIZES["setup_rounds"]}
    if workload == "board":
        tables = gen.board_tables(inp, seed, SIZES["board_sf"])
        plan.update(data=inp, tables=tables, rows=BOARD_ROWS)
        return plan, {"data": inp, "tables": tables}
    if workload == "serve":
        ticks = os.path.join(inp, "ticks.parquet")
        meta = gen.ticks(ticks, seed, SIZES["ticks"], SIZES["symbols"], SIZES["days"])
        reqs = gen.request_mix(seed, meta, SIZES["mix_blocks"])
        plan.update(ticks=ticks, requests=reqs, warm=gen.request_mix(seed + 1, meta, 2))
        return plan, {"ticks": ticks, "requests": reqs}
    raise SystemExit(f"unknown workload {workload}")


def cpu_ticks():
    """The machine's CPU time counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(classes, jars, plan, work):
    plan_path, out_path = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java_bin(), f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS + [
        "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                os.path.join(jars, "*")]),
        "graft.perfbench.Main", plan_path, out_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on a timeout, and when this script is stopped, the JVM (in a
            # session of its own) goes too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"JVM run failed ({rc})")
    with open(out_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- results

def q(values, p):
    return stats.quantile(values, p) if values else 0.0


def timing(prefix, values):
    """Median and the highest percentile with at least ten samples beyond
    it, with the sample count."""
    tq = stats.tail_quantile(len(values))
    return {f"{prefix}.n": len(values), f"{prefix}.p50_ms": q(values, 0.5),
            f"{prefix}.tail_q": tq, f"{prefix}.tail_ms": q(values, tq) if tq else None}


def summarize(workload, res, ctx):
    """End-to-end metrics, workload figures and the output checks:
    returns (metrics, detail, attempted, failed, problems)."""
    setup_s = res["session_s"] + statistics.median(res["setup_rounds_s"])
    problems = []
    if workload == "board":
        passes = res["passes"]
        row_ms = [v for p in passes for v in p.values()]
        checks = expect.board_checks(ctx["data"], ctx["tables"],
                                     os.path.join(ctx["work"], "check"), res["oracle_sql"])
        checks.update(res["check_failed"])
        problems += [f"{k}: {v}" for k, v in sorted(checks.items()) if v]
        # every timed row execution and every checked row is an op
        failed = res["failed"] + sum(1 for v in checks.values() if v)
        attempted = len(row_ms) + res["failed"] + len(checks)
        totals = [sum(p.values()) / 1e3 for p in passes]
        # each row's median pass: a run makes as many passes as fit its
        # time, and the best of five passes reads lower than the best of
        # four, so the minimum the repository's Bench takes would move
        # with the pass count
        mid = {r: statistics.median(p[r] for p in passes if r in p)
               for r in BOARD_ROWS if any(r in p for p in passes)}
        geo = stats.geomean(list(mid.values())) if mid else 0.0
        rate = statistics.median(len(p) / t for p, t in zip(passes, totals) if t)
        metrics = {"latency_ms": geo, "throughput_per_s": rate}
        detail = {"board.total_s": statistics.median(totals), "board.geomean_ms": geo,
                  "board.passes": len(passes), "board.pass_s": totals,
                  **timing("board.row", row_ms),
                  **{f"board.{r}.p50_ms": v for r, v in mid.items()}}
    elif workload == "serve":
        oracle = expect.ServeOracle(ctx["ticks"])
        want = {}
        failed = 0
        for rec in res["c1"] + res["c4"]:
            req = ctx["requests"][rec["idx"]]
            if rec["idx"] not in want:
                want[rec["idx"]] = oracle.digest(req)
            if rec["status"] != 200 or not expect.digest_matches(rec["digest"], want[rec["idx"]]):
                failed += 1
                if len(problems) < 5:
                    problems.append(f"request {rec['idx']} {req['op']}: status {rec['status']} "
                                    f"got {rec['digest']} want {want[rec['idx']]}")
        attempted = len(res["c1"]) + len(res["c4"])
        c1 = [r["ms"] for r in res["c1"]]
        c4 = [r["ms"] for r in res["c4"]]
        # a closed loop without think time keeps every client's request in
        # flight, so requests per second is clients over the mean latency
        # (Little's law). Completions over the phase's wall time would also
        # count where the deadline cuts the last requests off: 5-10% of a
        # run's worth, a few requests either way.
        rps = res["c4_clients"] * len(c4) / (sum(c4) / 1e3)
        metrics = {"latency_ms": q(c1, 0.5), "throughput_per_s": rps}
        by_op = {}
        for r in res["c1"]:
            by_op.setdefault(ctx["requests"][r["idx"]]["op"], []).append(r["ms"])
        detail = {"serve.c4.rps": rps, "serve.c4.wall_rps": len(c4) / res["c4_wall_s"],
                  **timing("serve.c1", c1), **timing("serve.c4", c4),
                  **{f"serve.c1.{op}.p50_ms": q(v, 0.5) for op, v in sorted(by_op.items())}}
    metrics["setup_s"] = setup_s
    return metrics, detail, attempted, failed, problems


# per-layer metrics of a traced run, with their units; every traced run
# reports all of them, 0 for a layer its workload does not exercise
LAYER_METRICS = {
    "env.cal0_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_busy_s": "s", "spark.slot_idle_ratio": "ratio",
    "spark.plan_p50_ms": "ms", "spark.plan_s": "s",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "scan.rows_examined_per_row": "ratio", "shuffle.bytes": "bytes", "spill.bytes": "bytes",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "pins.live_max": "count",
    "blockstore.mem_used_mb": "MB",
    "server.overhead_p50_ms": "ms", "server.resp_bytes_p50": "bytes",
    **{f"queryrunner.{op}.{k}": u for op in SERVE_OPS
       for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))},
    "board.construct_s": "s", "board.exec_s": "s",
    "ingest.triggers": "count", "ingest.trigger_p50_ms": "ms", "ingest.add_batch_s": "s",
    "ingest.offsets_s": "s", "ingest.commit_s": "s", "ingest.query_planning_s": "s",
}


def layers(workload, res):
    """The per-layer metrics of a traced run (0 for layers the workload
    does not exercise)."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    lay = res["layers"]
    m["env.cal0_s"] = res["cal0_s"]
    m.update({"spark.jobs": lay["jobs"], "spark.stages": lay["stages"],
              "spark.tasks": lay["tasks"], "spark.task_busy_s": lay["busy_ms"] / 1e3,
              "spark.slot_idle_ratio": 1 - lay["busy_ms"] / 1e3 / (lay["wall_s"] * lay["slots"]),
              "spark.plan_p50_ms": q(lay["plan_ms"], 0.5), "spark.plan_s": sum(lay["plan_ms"]) / 1e3,
              "scan.input_bytes": lay["input_bytes"], "scan.input_rows": lay["input_rows"],
              "shuffle.bytes": lay["shuffle_bytes"], "spill.bytes": lay["spill_bytes"],
              "jvm.gc_s": lay["gc_s"], "jvm.heap_peak_mb": lay["heap_peak_mb"],
              "pins.live_max": lay["pins_live_max"],
              "blockstore.mem_used_mb": lay["blockstore_mem_used_mb"]})
    trig = lay["triggers"]
    total = lambda *keys: sum(t.get(k, 0) for t in trig for k in keys) / 1e3
    m.update({"ingest.triggers": len(trig),
              "ingest.trigger_p50_ms": q([t.get("triggerExecution", 0) for t in trig], 0.5),
              "ingest.add_batch_s": total("addBatch"),
              "ingest.offsets_s": total("latestOffset", "getBatch", "walCommit"),
              "ingest.commit_s": total("commitOffsets"),
              "ingest.query_planning_s": total("queryPlanning")})
    if workload == "board":
        m["board.construct_s"] = res["construct_s"]
        m["board.exec_s"] = res["exec_s"]
    elif workload == "serve":
        http = {r["idx"]: r["ms"] for r in res["c1"]}
        replay = res["replay"]
        m["server.overhead_p50_ms"] = q([http[r["idx"]] - r["build_ms"] - r["exec_ms"]
                                         for r in replay if r["idx"] in http], 0.5)
        m["server.resp_bytes_p50"] = q([r["bytes"] for r in res["c1"]], 0.5)
        for op in SERVE_OPS:
            # the chart page's full-range requests are /ohlcv calls too
            mine = [r for r in replay if r["op"].split("_")[0] == op]
            m[f"queryrunner.{op}.build_ms"] = q([r["build_ms"] for r in mine], 0.5)
            m[f"queryrunner.{op}.exec_ms"] = q([r["exec_ms"] for r in mine], 0.5)
            m[f"queryrunner.{op}.jobs"] = q([r["jobs"] for r in mine], 0.5)
        returned = sum(r["digest"].get("rows", 0) for r in res["c1"] + res["c4"])
        m["scan.rows_examined_per_row"] = lay["input_rows"] / max(1, returned)
    return {k: {"value": float(v), "unit": LAYER_METRICS[k]} for k, v in m.items()}


def span_self_times(work):
    """Total and self ms per span name from the traced run's spans."""
    path = os.path.join(work, "spans.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    own = stats.self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["n"] += 1
        e["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        e["self_ms"] += own[s["id"]] / 1e6
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # stopped from outside: unwind, so that the JVM is killed and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        plan, ctx = prepare(a.workload, a.seed, work)
        ctx["work"] = work
        log(f"inputs for {a.workload} seed {a.seed} in {time.time() - t0:.1f}s")
        cpus = os.cpu_count() or 1
        plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                    work=work, cpus=cpus)
        ticks0 = cpu_ticks()
        res = run_jvm(classes, jars, plan, work)
        ticks1 = cpu_ticks()
        log(f"JVM run done at {time.time() - t0:.1f}s")
        metrics, detail, attempted, failed, problems = summarize(a.workload, res, ctx)
        log(f"checks done at {time.time() - t0:.1f}s")
        for p in problems:
            log(f"CHECK FAILED {p}")
        env = {"env.cal0_s": res["cal0_s"], "nproc": res["nproc"],
               "heap_max_mb": res["heap_max_mb"], "session_s": res["session_s"],
               "setup_rounds_s": res["setup_rounds_s"]}
        if ticks0 and ticks1 and len(ticks0) > 7:
            # the share of CPU time the hypervisor gave to other guests
            # during the JVM run: box drift that cal0 may not show
            d = [b - a for a, b in zip(ticks0, ticks1)]
            env["env.steal_share"] = d[7] / max(1, sum(d))
        out = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "end_to_end": metrics, "detail": detail, "env": env}
        if a.trace:
            out["spans"] = span_self_times(work)
            out["jobs_by_op"] = res["layers"]["jobs_by_op"]
            reported = layers(a.workload, res)
        else:
            reported = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(out))
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": reported}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
