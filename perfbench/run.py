#!/usr/bin/env python3
"""graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's JVM program from source with sbt (offline); later runs reuse
the build while the sources are unchanged. Each run:

1. generates the workload's inputs from --seed (perfbench/inputs.py);
2. starts one JVM (perfbench/src, class perfbench.Main) that sets up the
   engine's bench session, runs one untimed pass whose outputs are
   checked, untimed warm-up passes until 12 s after the session is up,
   then timed passes over the workload's ops for --seconds (at least
   two), one op at a time (a closed loop with one client). With
   --trace 1 the timed passes run untraced, traced, traced, untraced,
   each block for a quarter of --seconds;
3. checks outputs: MapReduce part files against the generator's own
   tally, query results against their DuckDB oracles with
   tools/check_oracle.py;
4. prints every metric as `name value unit` lines, then one JSON line
   with the end-to-end metrics (--trace 0) or the per-layer metrics of the
   traced passes (--trace 1).

The metric names, units and directions are in BENCHMARK.json at the
repository root; the workloads, their ops and sizes, and what each metric
measures are in perfbench/workloads.json.
"""
import argparse
import collections
import contextlib
import glob
import hashlib
import io
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# A fixed-size heap under the parallel collector. With G1 (the default),
# whose heap grows during the timed region and whose concurrent threads
# compete with the four task threads, one op's latencies within a run
# spread wider and mr_jobs ran 16-39% slower in single-run comparisons
# on 4 cores.
JVM_GC = ["-XX:+UseParallelGC", "-Xms4g", "-Xmx4g"]
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    return p.returncode, out, err


def sources_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.*"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def build():
    """Compile the engine and perfbench.Main with sbt; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    stamp = os.path.join(WORK, "build.json")
    fp = sources_fingerprint()
    if os.path.isfile(stamp):
        s = json.load(open(stamp))
        if s.get("fingerprint") == fp:
            return s["classpath"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp} -Xmx2g"))
    code, out, err = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        850, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    json.dump({"fingerprint": fp, "classpath": cp}, open(stamp, "w"))
    return cp


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..1) of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def tail(xs):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples above it;
    the max when there are fewer than twenty samples. Returns (label, value)."""
    for q in (0.99, 0.95, 0.90, 0.75, 0.50):
        if len(xs) * (1 - q) >= 10:
            return f"p{int(q * 100)}", percentile(xs, q)
    return "max", max(xs)


def check_mr(op, expected):
    parts = sorted(glob.glob(os.path.join(op["out"], "part-*")))
    if len(parts) != op["reducers"]:
        return f"{len(parts)} part files, expected {op['reducers']}"
    got = collections.Counter()
    for p in parts:
        with open(p, encoding="utf-8", newline="\n") as fh:
            got.update(fh.read().split("\n")[:-1])
    if got != expected:
        diff = (got - expected) + (expected - got)
        return f"output differs from the generator's tally in {sum(diff.values())} lines"
    return None


def check_queries(tables_dir, query_dir, names):
    """Oracle compare of the check pass's query outputs. Returns the set
    of names that failed it."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    check_oracle.CACHE_DIR = type(check_oracle.CACHE_DIR)(os.path.join(WORK, "oracle_cache"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(tables_dir, query_dir, names)
    ok = {ln.split()[1] for ln in buf.getvalue().splitlines() if ln.startswith("ok ")}
    for ln in buf.getvalue().splitlines():
        if ln.startswith(("FAIL", "  ")):
            print(f"check: {ln}", file=sys.stderr)
    return {n for n in names if n not in ok}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    wl = SPEC["workloads"][args.workload]

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    # set-up starts here: a build is not part of a run
    t_built = time.time()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    tables_dir = os.path.join(run_dir, "tables")
    inputs.tables(tables_dir, args.seed, wl["sf"])
    # the seed sets the order of the batch ops; stream ops run last in a
    # pass, so their state-store threads do not overlap batch ops' timing
    ops = [o for o in wl["ops"] if not o.startswith("q_stream_")]
    random.Random(args.seed).shuffle(ops)
    ops += [o for o in wl["ops"] if o.startswith("q_stream_")]
    jvm_args = ["--ops", ",".join(ops), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--tables", tables_dir,
                "--work", run_dir]
    expected = {}
    corpus_bytes = 0
    if "corpus_mb" in wl:
        corpus_dir = os.path.join(run_dir, "corpus")
        exec_dir = os.path.join(run_dir, "exec")
        wc, grep, corpus_bytes = inputs.corpus(
            corpus_dir, args.seed, int(wl["corpus_mb"] * 1e6))
        inputs.executables(exec_dir)
        expected = {"mr_submit": wc, "mr_wordcount": wc, "mr_grep": grep}
        jvm_args += ["--corpus", corpus_dir, "--exec", exec_dir]
    t_inputs = time.time()

    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    java = ["java", *JVM_OPENS, *JVM_GC, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *jvm_args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    budget = RUN_LIMIT_S - (time.time() - t_built)
    code, _, _ = run_proc(java, budget, cwd=run_dir, env=env)
    if code != 0:
        fail(f"engine JVM exited with code {code}")
    res = json.load(open(os.path.join(run_dir, "result.json")))

    # ---- output checks (outside every timed region)
    problems = []
    for op in res["check"]["mr"]:
        why = check_mr(op, expected[op["name"]]) if op["ok"] else op["error"]
        if why:
            problems.append(f"check pass {op['name']}: {why}")
    queries = [o for o in ops if o.startswith("q_")]
    bad_queries = set(res["check"]["query_failed"])
    for name in bad_queries:
        problems.append(f"check pass {name} failed: {res['check']['query_failed'][name]}")
    if queries:
        bad_queries |= check_queries(tables_dir, res["check"]["query_dir"], queries)
    timed = res["ops"]
    failed = 0
    for op in timed:
        why = op["error"] if not op["ok"] else None
        if not why and op["name"] in expected:
            why = check_mr(op, expected[op["name"]])
        if not why and op["name"] in bad_queries:
            why = "output does not match its oracle"
        if why:
            failed += 1
            problems.append(f"pass {op['pass']} {op['name']}: {why}")
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)

    # ---- metrics
    secs = [o["seconds"] for o in timed if o["ok"]] or [0.0]
    op_median = {n: statistics.median(o["seconds"] for o in timed if o["name"] == n)
                 for n in ops}
    e2e = {
        # inputs, JVM, session + Bench.warmUp, the checked first pass and warm-up
        "setup_s": (res["setup_end_ms"] / 1000 - t_built, "s"),
        # the pass of median ops: each op's median latency, summed
        "wall_s": (sum(op_median.values()), "s"),
        # the typical op: geometric mean of the ops' median latencies. It
        # weighs every op alike, so a sub-second row counts as much as the
        # iterative one; the median of all latencies is set by the one or two
        # ops in the middle of the mix (q_cosine_pairs, whose cost depends on
        # the seed's embeddings) and spread about twice as wide across seeds
        "op_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in op_median.values())),
                         "s"),
    }
    label, tail_v = tail(secs)
    extra = {f"op_p50_s[n={len(secs)}]": (statistics.median(secs), "s"),
             f"op_tail_s[{label},n={len(secs)}]": (tail_v, "s"),
             "rss_peak_mb": (res["rss_peak_mb"], "MB"),
             "failed_ratio": (failed / max(1, len(timed)), "1")}
    if corpus_bytes:
        submit = [o["seconds"] for o in timed if o["name"] == "mr_submit" and o["ok"]]
        if submit:
            extra["input_mb_per_s"] = (corpus_bytes / 1e6 / statistics.median(submit), "MB/s")
    data_batches = [b for b in res["batches"] if b["rows"] > 0]
    if data_batches:
        trig = [b["trigger_ms"] / 1000 for b in data_batches]
        label, v = tail(trig)
        drain_s = sum(o["seconds"] for o in timed if o["name"].startswith("q_stream_"))
        extra["batch_p50_s"] = (statistics.median(trig), "s")
        extra[f"batch_tail_s[{label},n={len(trig)}]"] = (v, "s")
        extra["rows_per_s"] = (sum(b["rows"] for b in data_batches) / drain_s, "rows/s")
    for k, v in res["control"].items():
        extra[f"control.{k}"] = (v, "ms" if k.endswith("_ms") else "s")
    # the parts of setup_s
    extra["setup.inputs_s"] = (t_inputs - t_built, "s")
    extra["setup.session_s"] = ((res["session_ready_ms"] - res["jvm_start_ms"]) / 1000, "s")
    extra["setup.check_warmup_s"] = ((res["setup_end_ms"] - res["session_ready_ms"]) / 1000, "s")

    print(f"workload {args.workload} seed {args.seed}: {res['passes']} passes of "
          f"{len(ops)} ops ({', '.join(ops)}); build {t_built - t_start:.1f} s, "
          f"inputs {t_inputs - t_built:.1f} s, total {time.time() - t_start:.1f} s")
    for k, (v, u) in {**e2e, **extra}.items():
        print(f"  {k:34s} {v:14.4f} {u}")
    metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
               for m in BENCH["end_to_end"]}
    if args.trace:
        tr = res["trace"]
        c = res["control"]
        tr["metrics"]["control.cpu_sentinel_s"] = (
            c["cpu_sentinel_start_s"] + c["cpu_sentinel_end_s"]) / 2
        tr["metrics"]["control.job_floor_ms"] = (
            c["job_floor_start_ms"] + c["job_floor_end_ms"]) / 2
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        print("  per-op self time (median over traced passes, s):")
        for b in tr["breakdown"]:
            print(f"    {b['op']:28s} n={b['n']:<3d} wall {b['wall_s']:8.3f} build {b['build_s']:7.3f} "
                  f"jobs {b['jobs']:5.1f} | op {b['op_self_s']:7.3f} "
                  f"phase {b['phase_self_s']:7.3f} job {b['job_self_s']:7.3f} "
                  f"stages {b['stage_s']:7.3f}")
        for k in sorted(tr["metrics"]):
            print(f"  {k:34s} {tr['metrics'][k]:14.4f} {units.get(k, '')}")
        metrics = {k: {"value": tr["metrics"][k], "unit": units[k]} for k in units}
        failed += len(tr["failed_ops"])
    correct = not problems and not (args.trace and res["trace"]["failed_ops"])
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
