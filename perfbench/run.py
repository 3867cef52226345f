#!/usr/bin/env python3
"""The repo benchmark: one workload, closed loop, timed end to end.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds the engine and the harness from
source with the Scala compiler shipped in the Spark jars (into
`.bench_build/`), generates the workload's inputs from the seed
(`perfbench/gen.py`), runs `graftbench.Harness` in one JVM (`local[nproc]`),
checks every output (the DuckDB oracles through `tools/check_correctness.py`,
the reference word count, twin agreement, content hashes), and prints one
JSON line last: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes its span tree to
`.bench_out/trace-<workload>-<seed>.json`. See perfbench/README.md.
"""
import argparse
import bisect
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the benchmark's directory as committed
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["curation", "query_mix"]
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"
JVM_TIMEOUT_S = 165
CHECK_TIMEOUT_S = 60

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# name -> unit; BENCHMARK.json lists the same names (perfbench/test_gen.py
# checks that)
E2E_UNITS = {"run_s": "s", "docs_per_s": "docs/s", "query_gmean_s": "s", "setup_s": "s"}
LAYER_UNITS = {
    "sessions.start_s": "s", "codegen.classes": "count", "codegen.compile_s": "s",
    "query.build_s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s", "plan.total_s": "s", "query.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_frac": "ratio", "spark.driver_gap_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.max_skew": "ratio", "store.build_s": "s", "store.read_s": "s", "store.bytes": "bytes",
    "stream.query_s": "s", "stream.batches": "count", "stream.per_batch_s": "s",
    "gc_s": "s", "jvm.peak_rss_mb": "MB", "trace.overhead_ratio": "ratio",
    "kernel.scan_floor_ns_row": "ns/row"}
# ns/row above the kernel's own input column
KERNELS = ["md5", "md5Long", "md5LongHalves", "minhash", "nfc", "tokens", "shingles", "vec_dot"]
LAYER_UNITS.update({f"kernel.{k}_ns_row": "ns/row" for k in KERNELS})
# FixedPointLn costs about as much as draining its input, so the difference
# is noise around 0; it is reported with its input included
LAYER_UNITS["kernel.ln_fixed_raw_ns_row"] = "ns/row"
# spans that own the Spark jobs started while they are open (one client
# thread, so these never overlap)
JOB_OWNERS = ("query:", "store.build:", "store.read:", "stream:", "kernel:")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# --- build ---------------------------------------------------------------

def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    if not harness:
        fail("no harness sources under perfbench/harness")
    return main + harness


def build(root):
    """Compile engine + harness once per source tree (content-hashed)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    jars = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
            for n in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            fail(f"Scala compiler jar not found: {j}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", out] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    log(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s -> {out}")
    return out


# --- JVM run -------------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, workload, seed, seconds, trace, data, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    res = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Xss8m",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
        "graftbench.Harness", "--workload", workload, "--data", data, "--work", work,
        "--out", res, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores())])
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S}s; log in {lf.name}")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM exited {rc}:\n{tail}")
    with open(res) as f:
        return json.load(f)


# --- output checks (all outside the timed region) -------------------------

def oracle_check(root, data, check_dir):
    """tools/check_correctness.py, unmodified, over the dumped outputs:
    (failing name -> why, names that equal their oracle)."""
    out = os.path.join(check_dir, "..", "checked.json")
    env = dict(os.environ, GRAFT_CHECK_WAIT_MAX="0")
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check_correctness.py"),
                        data, check_dir, out], cwd=os.path.dirname(check_dir), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=CHECK_TIMEOUT_S)
    if not os.path.exists(out):
        fail("check_correctness.py wrote no result:\n" + r.stdout[-3000:])
    with open(out) as f:
        rows = json.load(f)["queries"]
    bad, ok = {}, set()
    for name, row in rows.items():
        if row.get("hash_match"):
            ok.add(name)
        if row.get("err"):
            bad[name] = f"oracle check: {row['err']}"
        elif row.get("rows_only"):
            if not row.get("spark_rows"):
                bad[name] = "oracle check: empty output"
        elif not row.get("hash_match"):
            bad[name] = (f"oracle check: mismatch ({row.get('spark_rows')} rows vs "
                         f"{row.get('oracle_rows')} oracle rows)")
    return bad, ok


def canon_digest(con, path, canon):
    rows = canon(con.execute(f"SELECT * FROM '{path}/*.parquet'").df())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def own_checks(root, data, check_dir, twins, verified):
    """The reference word count against DuckDB, and twin agreement. Twins
    share one oracle, so when they disagree the blame goes to the members
    that did not match it (`verified` holds those that did)."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_correctness import canon
    con = duckdb.connect()
    bad = {}
    wc = os.path.join(check_dir, "wordcount_run")
    if os.path.isdir(wc):
        # whitespace tokens of the NFC text, lowercased, edge punctuation
        # trimmed, empties dropped; desc count, asc word (the tie-break)
        lines = []
        for t in sorted(glob.glob(os.path.join(data, "texts", "*.txt"))):
            with open(t, encoding="utf-8") as f:
                lines += f.read().splitlines()
        want = con.execute("""
            WITH t AS (SELECT unnest(regexp_split_to_array(nfc_normalize(line), '\\s+')) AS tok
                       FROM (SELECT unnest(?) AS line)),
                 w AS (SELECT regexp_replace(lower(tok), '^[.,!?:;"'']+|[.,!?:;"'']+$', '', 'g') AS word FROM t)
            SELECT word, count(*) AS cnt FROM w WHERE length(word) > 0
            GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 5""", [lines]).fetchall()
        got = con.execute(f"SELECT word, cnt FROM '{wc}/*.parquet' ORDER BY cnt DESC, word ASC").fetchall()
        if [tuple(r) for r in got] != [tuple(r) for r in want]:
            bad["wordcount_run"] = f"top-5 {got} != DuckDB count {want}"
    for group in twins:
        digests = {}
        for name in group:
            p = os.path.join(check_dir, name)
            if os.path.isdir(p):
                digests[name] = canon_digest(con, p, canon)
        if len(set(d for d, _ in digests.values())) > 1:
            for name in (n for n in group if n not in verified):
                bad.setdefault(name, "twins disagree: " + ", ".join(
                    f"{n}={d[:12]}({k} rows)" for n, (d, k) in sorted(digests.items())))
    return bad


# --- metrics ---------------------------------------------------------------

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res, passes):
    run_s = statistics.median(p["wall_s"] for p in passes)
    per_step = {}
    for p in passes:
        for s in p["steps"]:
            per_step.setdefault(s["name"], []).append(s["wall_s"])
    medians = [statistics.median(v) for v in per_step.values()]
    return {
        "run_s": run_s,
        "docs_per_s": res["docs"] / run_s,
        "query_gmean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        "setup_s": res["setup_s"],
    }


def union_len(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def job_owner(owners, starts, t_us):
    """The owner span open at `t_us`, or -1. Listener times are whole
    milliseconds, so a span owns what starts up to 1 ms either side of it."""
    i = bisect.bisect_right(starts, t_us + 1e3) - 1
    if i >= 0 and t_us <= owners[i]["end_us"] + 1e3:
        return owners[i]["id"]
    return -1


def span_tree(tr):
    """Spans + job/stage spans from the listener, each with its self time.

    A job hangs under the step or probe span that was open when it started.
    Its description is not used for this: jobs a stream twin starts on
    Spark's stream-execution thread carry the stream's own description."""
    spans = [dict(s) for s in tr["spans"]]
    owners = sorted((s for s in spans if s["name"].startswith(JOB_OWNERS)
                     and s["end_us"] is not None), key=lambda s: s["start_us"])
    starts = [s["start_us"] for s in owners]
    nid = len(spans)
    job_span = {}
    for j in tr["jobs"]:
        if j["end_ms"] < 0:
            continue
        parent = job_owner(owners, starts, j["start_ms"] * 1e3)
        spans.append(dict(id=nid, name=f"job:{j['id']}", start_us=j["start_ms"] * 1e3,
                          end_us=j["end_ms"] * 1e3, parent=parent, run_id=tr["run_id"],
                          desc=j["desc"]))
        job_span[j["id"]] = nid
        nid += 1
    for s in tr["stages"]:
        if s["submit_ms"] < 0 or s["done_ms"] < 0:
            continue
        spans.append(dict(id=nid, name=f"stage:{s['id']}", start_us=s["submit_ms"] * 1e3,
                          end_us=s["done_ms"] * 1e3, parent=job_span.get(s["job"], -1),
                          run_id=tr["run_id"]))
        nid += 1
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        cover = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                 for c in kids.get(s["id"], [])
                 if c["end_us"] is not None and s["end_us"] is not None]
        cover = [(a, b) for a, b in cover if b > a]
        dur = (s["end_us"] - s["start_us"]) if s["end_us"] is not None else 0.0
        s["dur_us"] = dur
        s["self_us"] = dur - union_len(cover)
    return spans


def per_layer(res, traced, untraced, spans):
    tr = res["trace"]
    ncores = res["cores"]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def steps_sum(key):
        return med(lambda p: sum(s.get(key, 0.0) for s in p["steps"]))

    by_id = {s["id"]: s for s in spans}

    def pass_span(p):
        return next(s for s in spans if s["name"] == f"run:pass{p['index']}")

    def pass_jobs(p):
        pid = pass_span(p)["id"]
        return [int(s["name"][4:]) for s in spans if s["name"].startswith("job:")
                and s["parent"] >= 0 and by_id[s["parent"]]["parent"] == pid]

    def pass_stages(p):
        ids = set(pass_jobs(p))
        return [s for s in tr["stages"] if s["job"] in ids]

    def gap(p):
        total = 0.0
        for q in (s for s in spans if s["parent"] == pass_span(p)["id"]):
            jobs = [(max(j["start_us"], q["start_us"]), min(j["end_us"], q["end_us"]))
                    for j in spans if j["parent"] == q["id"] and j["name"].startswith("job:")]
            total += q["dur_us"] - union_len([(a, b) for a, b in jobs if b > a])
        return total / 1e6

    def skew(p):
        r = [s["read_max"] / s["read_median"] for s in pass_stages(p) if s["read_median"] > 0]
        return max(r) if r else 1.0

    probes = res["probes"]
    n_probe = probes["stream_probe_batches"]
    pass_batches = tr["batches"][:len(tr["batches"]) - n_probe]
    batches = pass_batches or tr["batches"]
    stream_s = sum(b["trigger_ms"] for b in batches) / 1e3
    if pass_batches:
        stream_s /= len(traced)
    n_batches = len(batches) / (len(traced) if pass_batches else 1)
    m = {
        "sessions.start_s": res["sessions_start_s"],
        "codegen.classes": res["codegen"]["classes"],
        "codegen.compile_s": res["codegen"]["compile_s"],
        "query.build_s": steps_sum("build_s"),
        "plan.analysis_s": steps_sum("phase_analysis"),
        "plan.optimization_s": steps_sum("phase_optimization"),
        "plan.planning_s": steps_sum("phase_planning"),
        "plan.total_s": steps_sum("plan_s"),
        "query.exec_s": steps_sum("exec_s"),
        "spark.jobs": med(lambda p: len(pass_jobs(p))),
        "spark.stages": med(lambda p: len(pass_stages(p))),
        "spark.tasks": med(lambda p: sum(s["tasks"] for s in pass_stages(p))),
        "spark.task_busy_frac": med(lambda p: sum(s["run_ms"] for s in pass_stages(p)) / 1e3
                                    / (p["wall_s"] * ncores)),
        "spark.driver_gap_s": med(gap),
        "shuffle.write_bytes": med(lambda p: sum(s["shuffle_write"] for s in pass_stages(p))),
        "shuffle.read_bytes": med(lambda p: sum(s["shuffle_read"] for s in pass_stages(p))),
        "shuffle.max_skew": med(skew),
        "store.build_s": probes["store_build_s"],
        "store.read_s": probes["store_read_s"],
        "store.bytes": probes["store_bytes"],
        "stream.query_s": stream_s,
        "stream.batches": n_batches,
        "stream.per_batch_s": stream_s / n_batches if n_batches else 0.0,
        "gc_s": med(lambda p: p["gc_s"]),
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "trace.overhead_ratio": (statistics.median(p["wall_s"] for p in traced)
                                 / statistics.median(p["wall_s"] for p in untraced)),
    }
    m["kernel.scan_floor_ns_row"] = probes["kernels"]["scan_floor"]
    for k in KERNELS:
        m[f"kernel.{k}_ns_row"] = probes["kernels"][k]["ns_row"]
    m["kernel.ln_fixed_raw_ns_row"] = probes["kernels"]["ln_fixed"]["raw_ns_row"]
    return {k: m[k] for k in LAYER_UNITS}


def phase_table(passes):
    """Per-step phase table of the traced passes (medians)."""
    rows = {}
    for p in passes:
        for s in p["steps"]:
            rows.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in rows.items():
        r = {k: statistics.median(s.get(k, 0.0) for s in ss)
             for k in ("wall_s", "build_s", "plan_s", "exec_s",
                       "phase_analysis", "phase_optimization", "phase_planning")}
        r["remainder_s"] = r["wall_s"] - r["build_s"] - r["plan_s"] - r["exec_s"]
        out[name] = r
    return out


# --- one workload --------------------------------------------------------

def run_workload(root, classes, workload, seed, seconds, trace):
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.time()
        gen.generate(workload, seed, data)
        log(f"perfbench: generated {workload} seed={seed} in {time.time() - t0:.1f}s")
        res = run_jvm(classes, workload, seed, seconds, trace, data, work)
        check_dir = os.path.join(work, "check")
        bad = dict(res["failures"])
        oracle_bad, verified = oracle_check(root, data, check_dir)
        for name, why in oracle_bad.items():
            bad.setdefault(name, why)
        for name, why in own_checks(root, data, check_dir, res["twins"], verified).items():
            bad.setdefault(name, why)
        passes = res["passes"]
        untraced = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        attempted = sum(len(p["steps"]) for p in passes)
        failed = sum(1 for p in passes for s in p["steps"] if "error" in s or s["name"] in bad)
        e2e = end_to_end(res, untraced)
        summary = [f"{workload} seed={seed}: {len(passes)} passes over {len(res['order'])} steps, "
                   f"{res['docs']} docs, {res['cores']} cores"]
        summary += [f"  {k} = {v:.4f} {E2E_UNITS[k]}" for k, v in e2e.items()]
        # per-step times pooled over passes: the median, and the highest
        # whole percentile with at least ten samples above it
        per_query = [s["wall_s"] for p in untraced for s in p["steps"]]
        top = max(50, int(100 * (1 - 10 / len(per_query))))
        summary.append(f"  query_p50_s = {quantile(per_query, 0.5):.4f} s, "
                       f"query_p{top}_s = {quantile(per_query, top / 100):.4f} s "
                       f"({len(per_query)} samples)")
        summary.append(f"  peak_rss_mb = {res['peak_rss_mb']:.1f} MB")
        summary.append(f"  fail_frac = {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
        for name, why in bad.items():
            summary.append(f"  FAILED {name}: {why}")
        ld = res["load"]
        summary.append(f"  load: other_load={ld['other_load']:.2f} steal_frac={ld['steal_frac']:.4f} "
                       f"jvms={ld['jvms']}" + ("  (CONTENDED)" if ld["other_load"] > 1.0
                                               or ld["steal_frac"] > 0.05 or ld["jvms"] > 1 else ""))
        if trace:
            spans = span_tree(res["trace"])
            metrics = per_layer(res, traced, untraced, spans)
            table = phase_table(traced)
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{workload}-{seed}.json")
            with open(path, "w") as f:
                json.dump({"run_id": res["trace"]["run_id"], "workload": workload, "seed": seed,
                           "metrics": metrics, "end_to_end_untraced": e2e,
                           "queries": table, "probes": res["probes"], "load": res["load"],
                           "batches": res["trace"]["batches"], "spans": spans}, f, indent=1)
            worst = max(table.items(), key=lambda kv: abs(kv[1]["remainder_s"]))
            summary.append(f"  trace: {path}")
            summary.append(f"  build+plan+exec covers each query's wall time; largest remainder "
                           f"{worst[1]['remainder_s'] * 1e3:.3f} ms ({worst[0]})")
            over = (statistics.median(p["wall_s"] for p in traced)
                    - statistics.median(p["wall_s"] for p in untraced))
            summary.append(f"  tracing overhead: {over:+.4f} s per pass "
                           f"(traced/untraced {metrics['trace.overhead_ratio']:.4f})")
            units = LAYER_UNITS
        else:
            metrics = e2e
            units = E2E_UNITS
        for line in summary:
            print(line)
        return {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args(argv)
    root = os.getcwd()
    classes = build(root)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {w: run_workload(root, classes, w, a.seed, a.seconds, a.trace) for w in names}
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
