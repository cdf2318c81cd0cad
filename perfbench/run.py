#!/usr/bin/env python3
"""Repo benchmark: ingest, relational, curation and fold-in stream workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

`--workload` takes one name or a comma-separated list (see WORKLOADS).
The first run builds the benchmark project (perfbench/build.sbt, which
compiles the checkout's src/main with the harness) with sbt in offline
mode and caches the classpath under perfbench/target.

Each workload runs in its own benchmark JVM (perfbench.Main), which writes
result.json (and spans.json when traced) to perfbench/work/<run>/. This
script then checks the query outputs against DuckDB, computes the
metrics, writes metrics.json next to them, prints one compact line per
workload and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. Its metrics are the ones
BENCHMARK.json names, which every workload reports: with --trace 0 the
end-to-end ones, with --trace 1 the per-layer ones. A workload's own
readings (the module layers it reaches, fantoir_rows_per_s, query_s_tail,
...) go to metrics.json and the compact line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

WORKLOADS = ["ingest", "query_relational", "query_curation", "stream_foldin"]
HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
DEADLINE_S = 170  # every run must end within 180 s (the first may build)
SF_DIR = os.environ.get("PERFBENCH_SF_DIR",
                        os.path.expanduser("~/testdata/sf0.1"))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of the sources the build compiles: a stale build is rebuilt."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src/main", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile with sbt (offline) unless the cached classpath is current."""
    digest = source_digest(root)
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    # scratch files go under target/, inside the checkout
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines()
             if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip(), digest


def machine_state(root, digest):
    commit = "none"
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"], cwd=root,
            capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "load1_start": os.getloadavg()[0],
            "commit": commit, "source_digest": digest}


def cpu_ticks():
    """(steal, total) CPU ticks so far, from /proc/stat (zeros elsewhere)."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def heap():
    gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 30
    return f"{max(2, min(4, int(gb / 3)))}g"


def run_jvm(cp, workload, seed, seconds, trace, out, budget):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={os.path.join(out, 'derby')}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--out", out, "--sf", SF_DIR])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload}: benchmark JVM ran past {budget:.0f} s")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{workload}: benchmark JVM failed (exit {rc})")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else None


TAIL_SAMPLES = 22  # the least n whose tail sample lies above the median


def tail(xs):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples), or None below TAIL_SAMPLES samples."""
    if len(xs) < TAIL_SAMPLES:
        return None
    s = sorted(xs)
    k = len(s) - 11
    return s[k], round(100.0 * (k + 1) / len(s), 1), len(s)


def end_to_end(res):
    """End-to-end metrics of an untraced run, from its timed operations:
    the workload's own readings (fantoir_rows_per_s, query_s_tail, ...,
    written to metrics.json and the compact line) and the ones every
    workload reports, which BENCHMARK.json names:

    op_s_p50     median seconds of one successful operation (an import,
                 a query, a micro-batch)
    items_per_s  work items of successful operations per second (source
                 lines per import, queries per measured second, documents
                 per batch second)
    """
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    failed = len(ops) - len(ok)
    m, notes = {}, {}
    m["setup_s"] = res["setup"]["total_s"]
    if failed:
        # a run without failures leaves failed_share out: the top-level
        # "failed" and "attempted" fields carry the same zero
        m["failed_share"] = failed / len(ops)
    w = res["workload"]
    lat = [o["s"] for o in ok]
    if lat:
        m["op_s_p50"] = median(lat)
    if w == "ingest":
        all_rates = []
        for f in ("fantoir", "sirene", "deces"):
            rates = [o["lines"] / o["s"] for o in ok if o["name"] == f]
            if rates:
                m[f"{f}_rows_per_s"] = median(rates)
                all_rates += rates
            else:
                errs = sorted({o["error"] for o in ops if o["name"] == f})
                notes[f"{f}_rows_per_s"] = "missing: " + " | ".join(errs)[:160]
        if all_rates:
            m["items_per_s"] = median(all_rates)
    elif w.startswith("query_"):
        if lat:
            m["query_s_p50"] = median(lat)
            t = tail(lat)
            if t:
                m["query_s_tail"] = t[0]
                notes["query_s_tail"] = f"p{t[1]} of {t[2]} samples"
            else:
                notes["query_s_tail"] = f"missing: needs {TAIL_SAMPLES} samples, got {len(lat)}"
            m["queries_per_s"] = m["items_per_s"] = len(ok) / res["measured_s"]
    elif w == "stream_foldin":
        if lat:
            m["batch_s_p50"] = median(lat)
            t = tail(lat)
            if t:
                m["batch_s_tail"] = t[0]
                notes["batch_s_tail"] = f"p{t[1]} of {t[2]} samples"
            else:
                notes["batch_s_tail"] = f"missing: needs {TAIL_SAMPLES} samples, got {len(lat)}"
            m["docs_per_s"] = m["items_per_s"] = (
                sum(o["docs"] for o in ok) / sum(lat))
    return m, notes


def per_layer(res):
    """Per-layer metrics of a traced run: the JVM's span readings, the
    JVM's own totals and the tracing overhead."""
    m = {k: v for k, v in res["layers"].items() if v is not None}
    m["jvm.gc_s"] = res["jvm"]["gc_s"]
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    if "trace.overhead_share" not in m:
        # same operation traced and untraced: mean time per name
        by = {}
        for o in res["ops"]:
            if o["ok"]:
                by.setdefault(o["name"], {}).setdefault(o["traced"], []).append(o["s"])
        pairs = [(statistics.mean(v[True]), statistics.mean(v[False]))
                 for v in by.values() if True in v and False in v]
        if pairs:
            m["trace.overhead_share"] = (
                sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1)
    return m


def manifest(root):
    """BENCHMARK.json's metrics: {name: unit} per trace mode."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {t: {m["name"]: m["unit"] for m in spec[k]}
            for t, k in ((0, "end_to_end"), (1, "per_layer"))}


# units of the end-to-end readings BENCHMARK.json does not name, which
# go to metrics.json and the compact line only
UNITS = {"failed_share": "ratio", "fantoir_rows_per_s": "rows/s",
         "sirene_rows_per_s": "rows/s", "deces_rows_per_s": "rows/s",
         "query_s_p50": "s", "query_s_tail": "s", "queries_per_s": "1/s",
         "batch_s_p50": "s", "batch_s_tail": "s", "docs_per_s": "docs/s"}


def check_queries(res):
    """Untimed DuckDB check of each panel query's parquet output; the
    operations of a query that fails it count as failed."""
    import oracle  # DuckDB loads only for the query workloads
    c = res["checks"]
    bad = oracle.check(SF_DIR, c["check_dir"], c["panel"],
                       os.path.join(WORK, "oracle-cache"))
    for o in res["ops"]:
        if o["name"] in bad and o["ok"]:
            o["ok"] = False
            o["error"] = "check: " + bad[o["name"]]
    return bad


def run_one(cp, root_state, spec, workload, seed, seconds, trace, started):
    out = os.path.join(WORK, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    budget = DEADLINE_S - (time.time() - started)
    steal0, total0 = cpu_ticks()
    res = run_jvm(cp, workload, seed, seconds, trace, out, budget)
    steal1, total1 = cpu_ticks()
    checks = {}
    if workload.startswith("query_"):
        checks = check_queries(res)
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # noisy run shows here
    state = dict(root_state, **res["machine"],
                 cpu_steal_share=(steal1 - steal0) / max(1, total1 - total0))
    if trace:
        values, notes = per_layer(res), {}
    else:
        values, notes = end_to_end(res)
    unit = dict(spec[0], **spec[1])
    # per-layer readings outside BENCHMARK.json go to metrics.json only,
    # which keeps values without units
    metrics = {k: (v, unit.get(k) or UNITS.get(k, "")) for k, v in values.items()}
    ops = res["ops"]
    summary = {"workload": workload, "seed": seed, "trace": trace,
               "attempted": len(ops), "failed": sum(not o["ok"] for o in ops),
               # a raised error is a failure; a wrong output is also incorrect
               "incorrect": sum(not o["ok"] and o["error"].startswith("check")
                                for o in ops),
               "metrics": {k: v for k, (v, _) in metrics.items()},
               "notes": notes, "query_check_failures": checks,
               "setup": res["setup"], "machine": state}
    with open(os.path.join(out, "metrics.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    # keep the result files and the query outputs; drop inputs, stream
    # checkpoints and Spark scratch space
    for d in os.listdir(out):
        if d != "check" and os.path.isdir(os.path.join(out, d)):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    missing = [k for k in spec[trace] if k not in values]
    if missing:
        fail(f"{workload}: no reading for {missing}; see {out}")
    return summary, metrics


def compact_line(s, metrics):
    def fmt(v):
        return f"{v:.4g}"
    parts = [f"{k}={fmt(v)}{'' if u == 'ratio' else ' ' + u}"
             for k, (v, u) in metrics.items()
             if k not in ("op_s_p50", "items_per_s")] if not s["trace"] else [
        f"{len(metrics)} per-layer metrics in perfbench/work"]
    parts += [f"{k}: {v}" for k, v in s["notes"].items()]
    m = s["machine"]
    return (f"[perfbench] {s['workload']} seed={s['seed']} "
            f"ops={s['attempted']} failed={s['failed']} | "
            + "; ".join(parts)
            + f" | nproc={m['nproc']} load1={m['load1_start']:.2f} "
              f"steal={m['cpu_steal_share']:.3f} "
              f"{m['master']} heap={m['driver_heap_mb']}m "
              f"spark={m['spark_version']} commit={m['commit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    names = args.workload.split(",")
    unknown = [w for w in names if w not in WORKLOADS]
    if unknown:
        fail(f"unknown workload(s) {unknown}; known: {WORKLOADS}")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no src/main/scala/graft here: run from the root of a checkout")
    if any(w != "ingest" for w in names) and not os.path.isdir(SF_DIR):
        fail(f"parquet test data not found at {SF_DIR}")
    spec = manifest(root)
    cp, digest = build(root)
    state = machine_state(root, digest)
    results = []
    for w in names:
        s, metrics = run_one(cp, state, spec, w, args.seed, args.seconds,
                             args.trace, time.time())
        print(compact_line(s, metrics), flush=True)
        results.append((s, metrics))
    single = len(results) == 1

    def num(v):
        # eight significant digits: more than a measurement carries, and
        # short enough for the traced result line to fit the stdout tail
        v = float(f"{v:.8g}")
        return int(v) if v.is_integer() else v
    out = {"correct": all(s["incorrect"] == 0 for s, _ in results),
           "attempted": sum(s["attempted"] for s, _ in results),
           "failed": sum(s["failed"] for s, _ in results),
           "metrics": {(k if single else f"{s['workload']}/{k}"):
                       {"value": num(v), "unit": u}
                       for s, metrics in results
                       for k, (v, u) in metrics.items() if k in spec[args.trace]}}
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
