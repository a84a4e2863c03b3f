#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The script builds graft and the harness from
source (cached under $CARGO_TARGET_DIR, default `.bench_build`), generates
the workload's inputs from the seed under `.bench_work/`, runs the JVM
harness (perfbench/src) for about `--seconds` of measured operations,
checks every output against an independent DuckDB reference, and prints
the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). The full record (host facts,
percentiles, error classes, every metric) is printed on the line before.
See perfbench/README.md for definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]

# Why each workload exists (also in BENCHMARK.json, which lists ops_build
# and stream_window: see README.md for why the other two are run by name).
WORKLOADS = {
    "interactive": "new PQL text per query over small tables: parse, compile and Catalyst are a large share",
    "scan_x10": "headline queries over a 10x multi-file copy: execution and parallel scan dominate",
    "ops_build": "LLM-data ops whose DataFrame construction runs eager jobs, beside execution-only controls",
    "stream_window": "windowed aggregation streamed one file per trigger: state store, WAL and sink",
}

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A fixed, pre-touched heap: peak RSS then does not depend on when the
# collector chose to grow the heap (that moved it by 25% between runs), and
# what varies is native memory: thread stacks, direct buffers, code cache.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def build_settings(root):
    """Scala version and the unmanaged jar directory, read from build.sbt."""
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path) or not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no graft sources here (build.sbt, src/main/scala): run from the repository root")
    text = open(path).read()
    ver = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not ver or not jars:
        fail("build.sbt names no scalaVersion or unmanagedBase")
    return ver.group(1), jars.group(1)


def compiler_classpath(version):
    cache = os.environ.get("COURSIER_CACHE", os.path.expanduser("~/.cache/coursier"))
    jars = []
    for art in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = glob.glob(f"{cache}/**/{art}-{version}.jar", recursive=True)
        if not hits:
            fail(f"{art}-{version}.jar not found in the coursier cache {cache}")
        jars.append(hits[0])
    return ":".join(jars)


def build(root):
    version, jar_dir = build_settings(root)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    sources = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True)
                     + glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256(version.encode())
    for s in sources:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, jar_dir, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", compiler_classpath(version), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jar_dir}/*"] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, jar_dir, digest


# ---- inputs --------------------------------------------------------------

def make_inputs(workload, seed, data, smoke):
    """Generate the workload's inputs; return (table rows, facts)."""
    if workload == "interactive":
        rows = gen.generate(data, seed, 0.001, ALL_TABLES)
    elif workload == "scan_x10":
        # 10x the sf0.01 shape, 8 part files per fact table
        rows = gen.generate(data, seed, 0.01 if smoke else 0.1,
                            ["region", "nation", "customer", "orders", "lineitem", "events"],
                            files=4 if smoke else 8)
    elif workload == "ops_build":
        # a seeded subset of sf0.1-shaped documents and embeddings
        rows = gen.generate(data, seed, 0.01 if smoke else 0.1, ["documents", "embeddings"],
                            keep={t: 100 if smoke else 600 for t in ("documents", "embeddings")})
    else:
        types = stream_types(seed)
        n, max_ts = gen.generate_stream(data, seed, 0.002 if smoke else 0.03, 4 if smoke else 12, types[0])
        # warm-up input: the first file and the sentinel
        warm = os.path.join(data, "warm")
        os.makedirs(warm)
        files = sorted(os.listdir(os.path.join(data, "in")))
        for f in files[:1] + files[-1:]:
            shutil.copy2(os.path.join(data, "in", f), warm)
        rows = {"events": n}
        return rows, {"max_ts": max_ts, "event_types": types}
    return rows, {}


def stream_types(seed):
    """The two event types stream_window filters on, drawn from the seed."""
    return random.Random(seed).sample(["click", "error", "purchase", "signup", "view"], 2)


def input_bytes(data):
    total = 0
    for dirpath, _, files in os.walk(data):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---- host facts ------------------------------------------------------------

def other_jvms():
    """Number of java processes alive that this run did not start."""
    me = os.getpid()
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            argv0 = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")[0]
            ppid = int(open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if os.path.basename(argv0) == b"java" and ppid != me:
            n += 1
    return n


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs (s)."""
    fields = open("/proc/stat").readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- metrics ---------------------------------------------------------------

def tail(values):
    """Highest percentile with at least ten samples beyond it: the 11th
    largest sample, once there are 20 samples or more (percentile >= 50).
    With fewer, that percentile would fall below the median, and the
    maximum is reported instead (percentile 100). Returns (value, percentile, n)."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def median(values):
    return statistics.median(values) if values else float("nan")


def end_to_end(rec, workload, gen_s):
    ops = rec["ops"]
    inf = float("inf")
    if workload == "stream_window":
        trig = [t for o in ops if o["ok"] for t in o["triggers"]]
        lat = [t["triggerExecution"] for t in trig] + [inf] * sum(not o["ok"] for o in ops)
        comp = [t.get("queryPlanning", 0) for t in trig]
    else:
        lat = [o["wall_ms"] if o["ok"] else inf for o in ops]
        comp = [o["compile_ms"] for o in ops if o["ok"]]
    wall_s = sum(o["wall_ms"] for o in ops) / 1000
    rows = sum(o.get("in_rows", 0) for o in ops if o["ok"])
    t, pct, n = tail(lat)
    setup = rec["jvm_boot_ms"] / 1000 + gen_s + median(rec["setup_rounds_s"])
    return {
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (t, "ms"),
        "compile_p50_ms": (median(comp), "ms"),
        "rows_per_s": (rows / wall_s if wall_s else 0.0, "rows/s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }, {"tail_percentile": round(pct, 2), "latency_samples": n}


def per_layer(rec, workload):
    ops = [o for o in rec["ops"] if o["ok"]]
    m = {}

    def tot(key, sel=ops):
        return sum(o.get(key, 0) for o in sel)

    def mean(key, sel=ops):
        return tot(key, sel) / len(sel) if sel else 0.0

    pql = [o for o in ops if "parse_ms" in o]
    m["parser.parse_ms"] = (mean("parse_ms", pql), "ms")
    m["parser.tokens"] = (tot("tokens", pql), "count")
    for layer in ("compiler", "ops"):
        sel = [o for o in ops if o["layer"] == layer]
        m[f"{layer}.build_ms"] = (sum(build_self(o) for o in sel) / len(sel) if sel else 0.0, "ms")
        m[f"{layer}.build_jobs"] = (tot("build.jobs", sel), "count")
        m[f"{layer}.build_job_ms"] = (mean("build.job_ms", sel), "ms")
        m[f"{layer}.build_result_bytes"] = (tot("build.result_bytes", sel), "bytes")
        if layer == "ops":
            m["ops.build_tasks"] = (tot("build.tasks", sel), "count")
    m["catalyst.analyze_ms"] = (mean("analyze_ms"), "ms")
    m["catalyst.optimize_ms"] = (mean("optimize_ms"), "ms")
    m["catalyst.plan_ms"] = (mean("plan_ms"), "ms")
    m["catalyst.rules_effective"] = (tot("rules_effective"), "count")
    m["catalyst.plan_nodes"] = (tot("plan_nodes"), "count")
    m["catalyst.exchanges"] = (tot("exchanges"), "count")
    exec_ms = tot("exec_span_ms") if workload != "stream_window" else tot("wall_ms") - tot("build_span_ms")
    m["exec.ms"] = (exec_ms / len(ops) if ops else 0.0, "ms")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_cpu_ms", "ms"),
                    ("task_run_ms", "ms"), ("task_wait_ms", "ms"), ("gc_ms", "ms"),
                    ("input_rows", "count"), ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"exec.{k}"] = (tot(f"exec.{k}"), unit)
    m["exec.cores_busy"] = (tot("exec.task_run_ms") / exec_ms if exec_ms else 0.0, "cores")
    fn = [o for o in ops if o["name"] in ("text_bpe", "text_subwords")]
    rows = tot("exec.input_rows", fn)
    m["functions.cpu_ns_per_row"] = (tot("exec.task_cpu_ms", fn) * 1e6 / rows if rows else 0.0, "ns")
    m["sources.load_ms"] = (median(rec["load_ms"]), "ms")
    trig = [t for o in ops for t in o.get("triggers", [])]
    for k, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                    ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                    ("latestOffset", "latest_offset_ms"), ("state_commit_ms", "state_commit_ms")):
        m[f"stream.{name}"] = (sum(t.get(k, 0) for t in trig) / len(trig) if trig else 0.0, "ms")
    m["stream.state_rows"] = (max((t["state_rows"] for t in trig), default=0), "count")
    m["stream.state_memory_bytes"] = (max((t["state_memory_bytes"] for t in trig), default=0), "bytes")
    # self time per layer, and the tracing cost
    selfs = [self_times(o, workload) for o in ops]
    for layer in ("parser", "build", "build_jobs", "catalyst", "exec"):
        m[f"self.{layer}_ms"] = (sum(s[layer] for s in selfs) / len(selfs) if selfs else 0.0, "ms")
    walls = tot("wall_ms")
    m["self.accounted_pct"] = (100.0 * sum(sum(s.values()) for s in selfs) / walls if walls else 0.0, "%")
    over = [o["wall_ms"] - o["untraced_wall_ms"] for o in ops if o.get("untraced_ok")]
    m["trace.overhead_ms"] = (median(over) if over else 0.0, "ms")
    return m


def build_self(o):
    """Construction time less parse, the final plan's analysis and eager jobs."""
    return (o.get("build_span_ms", 0) - o.get("parse_ms", 0) - o.get("analyze_ms", 0)
            - o.get("build.job_ms", 0))


def self_times(o, workload):
    """Per-layer self times of one traced operation (ms); they should sum
    to its wall time. Children are subtracted from the span that holds them."""
    if workload == "stream_window":
        trig = o.get("triggers", [])
        return {"parser": o.get("parse_ms", 0.0), "build": build_self(o), "build_jobs": 0.0,
                "catalyst": float(sum(t.get("queryPlanning", 0) for t in trig)),
                "exec": o["wall_ms"] - o.get("build_span_ms", 0.0)
                - sum(t.get("queryPlanning", 0) for t in trig)}
    return {"parser": o.get("parse_ms", 0.0), "build": build_self(o),
            "build_jobs": float(o.get("build.job_ms", 0)),
            "catalyst": o.get("analyze_ms", 0) + o["plan_span_ms"],
            "exec": o["exec_span_ms"]}


# ---- one run ---------------------------------------------------------------

def run(args):
    root = os.getcwd()
    t_start = time.time()
    classes, jar_dir, digest = build(root)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    jvms_start = other_jvms()
    steal_start = cpu_steal_s()
    tg = time.time()
    rows, extra = make_inputs(args.workload, args.seed, data, args.smoke)
    gen_s = time.time() - tg
    out_json = os.path.join(work, "record.json")
    cmd = (["java", *JVM_MEMORY, "-Xss16m", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jar_dir}/*", "perfbench.Harness", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), data, work, out_json,
              ",".join(f"{k}={v}" for k, v in rows.items()),
              ",".join(extra.get("event_types", ["-"]))])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run limit; see {work}/jvm.log")
    if proc.returncode != 0 or not os.path.exists(out_json):
        print(open(os.path.join(work, "jvm.log")).read()[-3000:], file=sys.stderr)
        fail(f"harness failed (exit {proc.returncode})")
    rec = json.load(open(out_json))
    jvms_end = other_jvms()
    steal_s = cpu_steal_s() - steal_start

    # ---- correctness, outside the timed region
    wrong, checked, problems = check.verify(args.workload, rec, data, extra, os.path.join(work, "tmp"))

    ops = rec["ops"]
    attempted = len(ops) + sum(1 for o in ops if "untraced_ok" in o)
    failed = sum(not o["ok"] for o in ops) + sum(1 for o in ops if o.get("untraced_ok") is False)
    e2e, tail_info = end_to_end(rec, args.workload, gen_s)
    errors = {}
    for o in ops:
        if not o["ok"]:
            errors[o["error"]] = errors.get(o["error"], 0) + 1
    full = {
        "workload": args.workload, "why": WORKLOADS[args.workload], "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "smoke": args.smoke,
        "host": {"nproc": os.cpu_count(), "spark_cores": rec["facts"]["spark_cores"],
                 "shuffle_partitions": rec["facts"]["shuffle_partitions"],
                 "heap_max_mb": rec["facts"]["heap_max_mb"], "jdk": rec["facts"]["java_version"],
                 "spark": rec["facts"]["spark_version"], "git_commit": git_commit(root),
                 "source_sha256": digest, "other_jvms_start": jvms_start, "other_jvms_end": jvms_end,
                 "cpu_steal_s": round(steal_s, 2)},
        "inputs": {"table_rows": rows, "bytes": input_bytes(data), "gen_s": round(gen_s, 3),
                   **{k: v for k, v in rec["facts"].items()
                      if k not in ("spark_version", "java_version", "heap_max_mb", "spark_cores",
                                   "shuffle_partitions")}},
        "setup_rounds_s": rec["setup_rounds_s"], "jvm_boot_ms": rec["jvm_boot_ms"],
        "measure_s": rec["measure_s"],
        "error_rate": failed / attempted if attempted else 0.0, "errors": errors,
        "wrong_results": wrong, "checked_outputs": checked, "problems": problems[:20],
        **tail_info,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if args.workload == "stream_window":
        full["trigger_p50_ms"] = e2e["latency_p50_ms"][0]
        full["trigger_tail_ms"] = e2e["latency_tail_ms"][0]
    if args.trace:
        layers = per_layer(rec, args.workload)
        full["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        full["ops"] = [{k: v for k, v in o.items() if k not in ("triggers",)} for o in ops]
        metrics = full["per_layer"]
    else:
        metrics = full["end_to_end"]
    result = {"correct": wrong == 0 and checked == attempted - failed, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return full, result


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs; checks names, units and self times")
    args = p.parse_args()
    if args.smoke and not args.workload:
        import smoke
        sys.exit(smoke.main(run, self_times, WORKLOADS))
    if not args.workload:
        p.error("--workload is required")
    full, result = run(args)
    print(json.dumps(full, default=float))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
