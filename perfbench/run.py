#!/usr/bin/env python3
"""The graft benchmark: oracle-checked query workloads, timed end to end
and, in a traced run, layer by layer.

    python3 perfbench/run.py --workload doc_kernels --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --full            # all 182 queries

Run it from the root of a checkout. The first run builds the engine and
the harness with sbt (offline) into the checkout; later runs reuse the
build until a source file changes. Every run then

  1. checks the input parquet files against `inputs.json` and stops with
     InputDrift if one differs;
  2. starts one JVM with a Spark `local[4]` session (the harness in
     `harness/`), runs one untimed warm-up pass over the workload's timed
     queries, writing their results, then a fixed number of timed passes
     over the same queries, scaled by `--seconds`, then runs and writes
     the seed's share of the workload's other queries;
  3. hashes every written result and compares it with the DuckDB oracle's
     hash (`oracle.py`);
  4. prints a summary, then one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

The seed permutes the query order of every pass and picks which of the
workload's other queries are checked; `--full` times and checks every
query of the workload instead, in MIN_PASSES timed passes. See README.md for
the metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run of a checkout may take 900 s
CHECK_SHARES = 44          # the other queries are checked one share per seed
MIN_PASSES = 4             # timed passes at least, for a median
JAVA_OPTS = [
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # settles differently from run to run, and with it the GC work and the
    # CPU time of a pass
    "-Xms3g", "-Xmx3g", "-Xmn256m",
    "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
    # as the engine build: one-shot codegen classes would fill the
    # default JIT code cache over a long sweep
    "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                 "java.net", "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar")
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class InputDrift(Exception):
    """An input file is not the one the benchmark and its oracle cache were made with."""


def checkout_root():
    return os.path.dirname(HERE)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def check_inputs():
    import pyarrow.parquet as pq
    d = DATA
    want = load("inputs.json")["files"]
    have = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
    if have != sorted(want):
        raise InputDrift(f"input files in {d} are {have}, expected {sorted(want)}")
    for f, w in sorted(want.items()):
        p = os.path.join(d, f)
        rows = pq.ParquetFile(p).metadata.num_rows
        digest = sha256_file(p)
        if (digest, rows) != (w["sha256"], w["rows"]):
            raise InputDrift(f"{f}: sha256 {digest} rows {rows}, "
                             f"expected sha256 {w['sha256']} rows {w['rows']}")


def inputs_fingerprint():
    files = load("inputs.json")["files"]
    return hashlib.sha256("".join(f"{k}:{v['sha256']};" for k, v in sorted(files.items()))
                          .encode()).hexdigest()


# ---------------------------------------------------------------- build

def _sources(root):
    """Every file the build reads, for the rebuild stamp."""
    picks = [os.path.join(root, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
                os.path.join(HERE, "harness")):
        for d, dirs, files in os.walk(top):
            # skip build outputs: target/ anywhere, project/ below a top
            dirs[:] = sorted(x for x in dirs
                             if x != "target" and (x != "project" or d == os.path.join(HERE, "harness")))
            picks += [os.path.join(d, f) for f in sorted(files)]
    return [p for p in picks if os.path.isfile(p)]


def build(root):
    """Build the engine and the harness; returns the JVM classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise FileNotFoundError(f"no graft engine sources under {root}")
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    bdir = build_dir(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(bdir, exist_ok=True)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts keeps its temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                  timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "harness" not in lines[-1]:
        raise RuntimeError(f"build failed (exit {rc}), see {log}")
    cp = lines[-1]
    if java(root, cp, ["catalog", os.path.join(bdir, "catalog.json")], log + ".catalog",
            timeout=120) != 0:
        raise RuntimeError(f"catalog failed, see {log}.catalog")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def _die_with_parent():
    """In the child: get SIGKILL when the benchmark process ends, however
    it ends (PR_SET_PDEATHSIG, kept across the exec of sbt's script)."""
    import ctypes
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)


def _run(cmd, timeout, **kw):
    """Run `cmd` to completion; on timeout or interruption kill it and
    wait for it. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, preexec_fn=_die_with_parent, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return -9
    except BaseException:
        p.kill()
        p.wait()
        raise


def java(root, cp, args, log, timeout):
    tmp = os.path.join(build_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        return _run(["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                            "perfbench.Harness"] + args,
                    cwd=root, stdout=out, timeout=timeout)


def catalog(root):
    """{query: oracle SQL} from the engine's registry, as of the last build."""
    with open(os.path.join(build_dir(root), "catalog.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- run

def plan(workload, seed, seconds, full):
    """(timed queries, other queries checked in this run, timed passes).

    The pass count is fixed by `seconds` and the workload's nominal pass
    time, not by the clock, so every run of a workload does the same work.
    A `full` run covers every query: one warm-up and MIN_PASSES timed
    passes."""
    w = load("workloads.json")["workloads"][workload]
    if full:
        return w["queries"], [], MIN_PASSES
    timed = w["timed"]
    rest = [q for q in w["queries"] if q not in timed]
    checked = [q for i, q in enumerate(rest) if i % CHECK_SHARES == seed % CHECK_SHARES]
    return timed, checked, max(MIN_PASSES, round(seconds / w["nominal_pass_s"]))


def quantile(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies(r):
    return [s["build_s"] + s["action_s"] for p in r["passes"] for s in p["samples"]
            if s["error"] is None]


def end_to_end(r):
    return {
        "setup_s": (r["session_s"] + r["warmup"]["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in r["passes"]), "s"),
        "query_p50_s": (quantile(latencies(r), 0.5), "s"),
        "heap_peak_mb": (statistics.median(p["heap_peak_mb"] for p in r["passes"]), "MB"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in r["passes"]), "s"),
    }


def per_layer(r, spans):
    traced = [p for p in r["passes"] if p["traced"]]
    plain = [p for p in r["passes"] if not p["traced"]]
    n = len(traced)

    def per_pass(key):
        return sum(p["layers"].get(key, 0.0) for p in traced) / n

    m = {}
    m["build.wall_s"] = (sum(s["build_s"] for p in traced for s in p["samples"]) / n, "s")
    m["build.jobs"] = (per_pass("build.jobs"), "count")
    for k in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s"):
        m[k] = (per_pass(k), "s")
    warm = r["warmup"]["codegen"]
    m["codegen.compiles"] = (warm["compiles"], "count")
    m["codegen.compile_s"] = (warm["compile_s"], "s")
    m["codegen.source_kb"] = (warm["source_kb"], "KB")
    m["codegen.pass_compiles"] = (sum(p["codegen"]["compiles"] for p in traced) / n, "count")
    for k, u in (("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
                 ("sched.task_run_s", "s"), ("sched.task_cpu_s", "s"), ("sched.delay_s", "s")):
        m[k] = (per_pass(k), u)
    m["sched.tiny_task_frac"] = (per_pass("sched.tiny_tasks") / max(per_pass("sched.tasks"), 1), "ratio")
    m["sched.stage_skew_max"] = (max(p["layers"].get("sched.stage_skew_max", 0.0) for p in traced), "ratio")
    for k in ("io.input_mb", "io.shuffle_write_mb", "io.shuffle_read_mb", "io.spill_mb", "io.output_mb"):
        m[k] = (per_pass(k), "MB")
    m["io.fetch_wait_s"] = (per_pass("io.fetch_wait_s"), "s")
    m["io.peak_task_mem_mb"] = (max(p["layers"].get("io.peak_task_mem_mb", 0.0) for p in traced), "MB")
    for k, v in r["kernels"].items():
        name, unit = KERNEL_METRICS[k]
        m[f"kern.{name}"] = (v["rate"], unit)
    m["jvm.jit_s"] = (sum(p["jit_s"] for p in traced) / n, "s")
    m["jvm.gc_s"] = (sum(p["gc_s"] for p in traced) / n, "s")
    m["jvm.setup_jit_s"] = (r["warmup"]["jit_s"], "s")
    m["jvm.cpu_s"] = (statistics.median(p["cpu_s"] for p in r["passes"]), "s")
    m["jvm.heap_live_mb"] = (statistics.median(p["heap_live_mb"] for p in r["passes"]), "MB")
    m["jvm.heap_peak_mb"] = (statistics.median(p["heap_peak_mb"] for p in traced), "MB")
    total = sum(p["wall_s"] for p in traced)
    for layer, secs in self_times(spans).items():
        m[f"self.{layer}_s"] = (secs / n, "s")
        m[f"share.{layer}"] = (secs / total, "ratio")
    wall = statistics.median(p["wall_s"] for p in traced)
    untraced = statistics.median(p["wall_s"] for p in plain)
    m["trace.pass_s"] = (wall, "s")
    m["trace.untraced_pass_s"] = (untraced, "s")
    m["trace.overhead_s"] = (wall - untraced, "s")
    return m


SELF_LAYERS = ("pass", "query", "build", "action", "job", "stage")
KERNEL_METRICS = {  # probe -> (metric name, unit)
    "minhash": ("minhash_mb_per_s", "MB/s"),
    "text_stats": ("text_stats_mb_per_s", "MB/s"),
    "html_extract": ("html_extract_mb_per_s", "MB/s"),
    "zstd_decode": ("zstd_decode_mb_per_s", "MB/s"),
    "cosine": ("cosine_mvec_per_s", "Mvec/s"),
    "jaro_winkler": ("jaro_winkler_mpairs_per_s", "Mpairs/s"),
}


def self_times(spans):
    """Seconds of the traced passes attributed to each layer: every
    instant counts for the deepest span open at that instant (a job under
    a build, a stage under its job), so the layers add up to the passes'
    wall time."""
    import heapq
    by_id = {s["id"]: s for s in spans}

    def lineage(s):
        yield s
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            yield s

    depth, events = {}, []
    for s in spans:
        chain = list(lineage(s))
        if s["end_us"] > s["start_us"] and any(
                a["layer"] == "pass" and a["name"] != "warmup" for a in chain):
            depth[s["id"]] = len(chain)
            events += [(s["start_us"], 1, s["id"]), (s["end_us"], 0, s["id"])]
    events.sort()
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    open_spans, closed, last = [], set(), None
    for t, starts, sid in events:
        while open_spans and open_spans[0][1] in closed:
            heapq.heappop(open_spans)
        if open_spans and t > last:
            out[by_id[open_spans[0][1]]["layer"]] += (t - last) / 1e6
        last = t
        if starts:
            heapq.heappush(open_spans, (-depth[sid], sid))
        else:
            closed.add(sid)
    return out


def run_workload(root, cp, workload, seed, seconds, trace, full, deadline):
    timed, checked, passes = plan(workload, seed, seconds, full)
    bdir = build_dir(root)
    tag = f"{workload}-{seed}-{os.getpid()}"
    dump = os.path.join(bdir, "dump", tag)
    out = os.path.join(bdir, "out", tag + ".json")
    spans = os.path.join(bdir, "traces", tag + ".jsonl")
    log = os.path.join(bdir, "logs", tag + ".log")
    for p in (out, spans, log):
        os.makedirs(os.path.dirname(p), exist_ok=True)
    os.makedirs(dump, exist_ok=True)
    args = ["run", "--data", DATA, "--queries", ",".join(timed),
            "--check", ",".join(checked), "--seed", str(seed),
            "--passes", str(passes),
            "--trace", str(trace), "--dump", dump,
            "--out", out, "--spans", spans,
            "--launch-ms", str(int(time.time() * 1000))]
    try:
        # leave the oracle check its time before the deadline
        rc = java(root, cp, args, log, timeout=max(deadline - time.time() - 15, 10))
        if rc != 0:
            raise RuntimeError(f"harness exited {rc}, see {log}")
        with open(out) as f:
            r = json.load(f)
        import oracle
        wrong = oracle.check(dump, timed + checked, catalog(root), DATA,
                             inputs_fingerprint(), os.path.join(bdir, "oracle_local.json"))
    finally:
        shutil.rmtree(dump, ignore_errors=True)
    return r, wrong, spans


def report(workload, seed, r, wrong, spans, trace):
    runs = [r["warmup"]] + r["passes"] + [r["check"]]
    execs = [s for p in runs for s in p["samples"]]
    failed = [s for s in execs if s["error"] is not None]
    failed_names = sorted({s["name"] for s in failed})
    mismatched = sorted(n for n, why in wrong.items() if why is not None and n not in failed_names)
    e2e = end_to_end(r)
    n_samples = sum(len(p["samples"]) for p in r["passes"])
    print(f"workload {workload} seed {seed}: {len(r['warmup']['samples'])} timed queries, "
          f"{len(r['passes'])} passes, {n_samples} query samples, "
          f"{len(r['check']['samples'])} more checked")
    for k, (v, u) in e2e.items():
        print(f"  {k:14s} {v:12.4f} {u}")
    # printed, not bounded (README.md): a p90 of this few samples has
    # fewer than ten beyond it
    print(f"  {'query_p90_s':14s} {quantile(latencies(r), 0.9):12.4f} s")
    print(f"  {'failed_frac':14s} {len(failed) / len(execs):12.4f} ratio  {failed_names}")
    print(f"  {'wrong_outputs':14s} {len(mismatched):12d} count  {mismatched}")
    for n in mismatched:
        print(f"    {n}: {wrong[n]}")
    for s in failed[:5]:
        print(f"    {s['name']} threw {s['error']}")
    if trace:
        metrics = per_layer(r, read_spans(spans))
        for k, (v, u) in metrics.items():
            print(f"  {k:28s} {v:12.4f} {u}")
        print(f"  spans written to {os.path.relpath(spans)}")
    else:
        metrics = e2e
    return {
        "correct": not mismatched and not failed,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv):
    workloads = list(load("workloads.json")["workloads"])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="time and check every query of the workload")
    a = ap.parse_args(argv)
    # a SIGTERM unwinds through _run, which stops the child it waits on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = checkout_root()
    check_inputs()
    cp = build(root)
    results = {}
    for w in (workloads if a.workload == "all" else [a.workload]):
        limit = 1800 if a.workload == "all" or a.full else RUN_LIMIT_S - 10
        r, wrong, spans = run_workload(root, cp, w, a.seed, a.seconds, a.trace, a.full,
                                       deadline=time.time() + limit)
        results[w] = report(w, a.seed, r, wrong, spans, a.trace)
    if len(results) == 1:
        final = next(iter(results.values()))
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
