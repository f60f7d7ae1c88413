#!/usr/bin/env python3
"""graft benchmark: runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload drain|polite|analytics \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The harness and the graft sources are
compiled on first use (perfbench/build.py). The JVM runs Spark at
local[nproc] with a heap sized from MemTotal; every file it writes
(crawl stores, Spark scratch, temp files) lives in a private run
directory under the build directory that is deleted afterwards.

Output: a `perfbench report` line with every workload-specific metric
named in perfbench/README.md, then, as the last line, the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The end-to-end
metrics are scaled to the reference host speed measured in the same run
(Calib.scala); the report line also gives them as measured. The exit
code is non-zero if any output was incorrect or the run failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

TIMEOUT_S = 175
ANALYTICS_TABLE_SEED = 42
ANALYTICS_SF = 0.02
ANALYTICS_WARM_SF = 0.002
SETUP_REPEATS = 3
# one pass of the reference kernel (Calib.scala) on the reference host,
# a quiet 4-vCPU Xeon VM with JDK 17: gated times are scaled to that speed
REF_SECONDS = 0.0225
QUERIES = ["q01_agg", "q02_join_broadcast", "q05_first_seen", "q13_token_freq",
           "q21_minhash_lsh", "q22_simhash", "q24_knn_cosine", "q31_sessionize",
           "q45_ivf_ann", "q59_phash_pairs", "q60_chunk_dedup", "q62_pack_sequences",
           "q73_image_dup_clusters", "q77_asof_join", "q79_clip_align", "q83_crossmodal",
           "q84_tfidf_pairs", "q95_dup_spans"]
OP_SPLIT = ["q73_image_dup_clusters", "q21_minhash_lsh", "q02_join_broadcast", "q95_dup_spans"]
OP_FAMILIES = ["scan", "exchange", "aggregate", "join", "sort", "other"]

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {"setup_s": "s", "rate_per_s": "1/s"}
CRAWL_LAYERS = {
    "pipeline.waves": "count", "pipeline.init_s": "s", "pipeline.wave_fetch_s": "s",
    "pipeline.wave_discover_s": "s", "pipeline.wave_commit_s": "s", "pipeline.wave_other_s": "s",
    "pipeline.fixed_wave_s": "s",
    "fetch.calls": "count", "fetch.busy_s": "s", "fetch.http_errors": "count",
    "codec.verify_us_per_page": "us", "codec.invariant_misses": "count",
    "urlnorm.links": "count", "urlnorm.canon_ns_per_link": "ns",
    "seen.new_urls": "count", "seen.new_per_link": "ratio",
    "robots.denied": "count", "robots.denied_ratio": "ratio",
    "icelite.commits": "count", "icelite.commit_s": "s", "icelite.stage_s": "s",
    "icelite.read_calls": "count", "icelite.stat_calls": "count", "icelite.manifest_calls": "count",
    "icelite.bytes_written": "bytes", "icelite.files_written": "count", "icelite.manifest_bytes": "bytes",
}
SPARK_LAYERS = {
    "spark.jobs": "count", "spark.jobs_per_wave": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_idle_frac": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
}
QUERY_LAYERS = {}
for _q in QUERIES:
    QUERY_LAYERS[f"queries.{_q}_s"] = "s"
for _q in QUERIES:
    QUERY_LAYERS[f"ops.{_q}.shuffle_bytes"] = "bytes"
    QUERY_LAYERS[f"ops.{_q}.rows_scanned"] = "count"
for _q in OP_SPLIT:
    for _f in OP_FAMILIES:
        QUERY_LAYERS[f"ops.{_q}.{_f}_s"] = "s"
TRACE_LAYERS = {"trace.overhead_step_pct": "%", "trace.overhead_rate_pct": "%"}
PER_LAYER = {**CRAWL_LAYERS, **SPARK_LAYERS, **QUERY_LAYERS, **TRACE_LAYERS}


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise SystemExit("perfbench: no MemTotal in /proc/meminfo")


def nproc():
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of physical memory, between 2 and 8 GiB: the host is
    shared, and build.sbt's 24g default would exceed it."""
    return max(2048, min(8192, mem_total_mb() // 4))


def jvm_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
            "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
            "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def source_hash():
    """Identity of the measured code: git's tree hash when the checkout
    is a git work tree, else a hash of the sources the build compiled."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=build.ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return "git-tree:" + r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def run_jvm(classes, args, run_dir, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_opens() +
           ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_GRAFT_TRACE", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: workload timed out")
    line = next((l for l in out.splitlines() if l.startswith("PERFBENCH ")), None)
    if proc.returncode != 0 or line is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-8000:])
        raise SystemExit(f"perfbench: harness JVM failed (exit {proc.returncode})")
    return json.loads(line[len("PERFBENCH "):])


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def samples(workload, rec, traced):
    """The timed samples of one kind (traced or not): waves for polite,
    drain iterations for drain, suite passes for analytics."""
    key = "waves" if workload == "polite" else "iterations"
    return [s for s in rec[key] if s["traced"] == traced]


def e2e(workload, rec, xs):
    """(rate_per_s, step_p50_s, workload-specific metrics) of samples `xs`."""
    if workload == "analytics":
        per_q = {q: stats.median([it["queries"][q] for it in xs]) for q in QUERIES}
        suite = sum(per_q.values())
        detail = {"analytics.suite_s": (suite, "s"), "analytics.passes": (len(xs), "count")}
        for q in ("q73_image_dup_clusters", "q21_minhash_lsh", "q02_join_broadcast"):
            detail[f"analytics.{q[:3]}_s"] = (per_q[q], "s")
        return len(QUERIES) / suite, stats.median([it["wall_s"] for it in xs]), detail
    if workload == "drain":
        walls = [it["waves"][0]["wall_s"] for it in xs]
        rate = sum(it["units"] for it in xs) / sum(walls)
        return rate, stats.median(walls), {
            "drain.urls_per_s": (rate, "1/s"),
            "drain.seed_s": (stats.median([it["init_s"] for it in xs]), "s"),
            "drain.store_amp": (stats.median([it["store_amp"] for it in xs]), "ratio")}
    walls = [w["wall_s"] for w in xs]
    rate = sum(w["fetched"] for w in xs) / sum(walls)
    detail = {"polite.urls_per_s": (rate, "1/s"), "polite.wave_p50_s": (stats.median(walls), "s"),
              "polite.waves": (len(walls), "count")}
    tail = stats.tail_percentile(walls)
    if tail and tail[0] > 50:
        detail[f"polite.wave_p{tail[0]:g}_s"] = (tail[1], "s")
    return rate, stats.median(walls), detail


# per-layer counters the harness sums over the traced samples; the rest
# (codec, urlnorm, seen, robots) describe the crawl's store as a whole
SUMMED = ("fetch.", "icelite.", "spark.", "ops.")


def layer_metrics(workload, rec, spans):
    m = {k: 0.0 for k in PER_LAYER}
    traced, untraced = samples(workload, rec, True), samples(workload, rec, False)
    n = len(traced)
    for k, v in rec.get("layers", {}).items():
        summed = k.startswith(SUMMED) and k != "spark.core_idle_frac"
        m[k] = v / n if summed else v
    if workload == "analytics":
        for q in QUERIES:
            m[f"queries.{q}_s"] = stats.median([it["queries"][q] for it in traced])
    else:
        waves = traced if workload == "polite" else [it["waves"][0] for it in traced]
        timed = (rec["waves"] if workload == "polite"
                 else [it["waves"][0] for it in rec["iterations"]])
        m["pipeline.waves"] = len(rec.get("bulk_waves", [])) + len(timed)
        m["pipeline.init_s"] = rec.get("init_s") or mean([it["init_s"] for it in traced])
        for seg in ("fetch", "discover", "commit"):
            m[f"pipeline.wave_{seg}_s"] = mean([w.get(f"{seg}_s", 0.0) for w in waves])
        # "other": the runWave spans' self time, i.e. wall time not covered
        # by their fetch / discover / commit segment spans
        st = stats.self_times(spans)
        m["pipeline.wave_other_s"] = mean([st[s["id"]] / 1e9 for s in spans if s["name"] == "pipeline.runWave"])
        m["pipeline.fixed_wave_s"] = stats.median(stats.fixed_waves(
            [w for w in timed if not w.get("traced")], rec["pages"]))
        m["spark.jobs_per_wave"] = m["spark.jobs"]
    # tracing overhead: traced minus untraced samples of this same run
    r_t, s_t, _ = e2e(workload, rec, traced)
    r_u, s_u, _ = e2e(workload, rec, untraced)
    m["trace.overhead_step_pct"] = 100.0 * (s_t - s_u) / s_u
    m["trace.overhead_rate_pct"] = 100.0 * (r_u - r_t) / r_u
    return m


def read_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["drain", "polite", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="analytics: write the observed query results as the expected ones")
    a = ap.parse_args()
    started = time.time()
    deadline = started + TIMEOUT_S
    classes = build.build()
    build_s = time.time() - started

    base = build.build_dir()
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_s = []
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--out", os.path.join(run_dir, "work"),
                 "--cores", str(nproc())]
        expected = os.path.join(HERE, "expected", "analytics.tsv")
        if a.workload == "analytics":
            # the tables are fixed; the seed only orders the queries
            tables = os.path.join(run_dir, "tables")
            warm = os.path.join(run_dir, "warm-tables")
            for _ in range(SETUP_REPEATS):
                t = time.time()
                gen_tables.write(tables, ANALYTICS_TABLE_SEED, ANALYTICS_SF)
                gen_tables.write(warm, ANALYTICS_TABLE_SEED, ANALYTICS_WARM_SF)
                gen_s.append(time.time() - t)
            jargs += ["--tables", tables, "--warm-tables", warm, "--expected", expected]
            if a.record:
                jargs += ["--record", expected]
        jvm_spawn = time.time()
        rec = run_jvm(classes, jargs, run_dir, deadline)
        with open(os.path.join(out_dir, f"raw-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(rec, f)
        spans = read_spans(os.path.join(run_dir, "work", "spans.jsonl"))
        if spans:
            shutil.copy(os.path.join(run_dir, "work", "spans.jsonl"),
                        os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    residue = [run_dir] if os.path.exists(run_dir) else []

    setup_s = stats.median(gen_s) + (rec["warm_done_ms"] / 1000.0 - jvm_spawn)
    untraced = samples(a.workload, rec, False)
    rate, step, detail = e2e(a.workload, rec, untraced)
    attempted, failed = rec["attempted"], rec["failed"] + len(residue)
    detail["error_ratio"] = (failed / max(1, attempted), "ratio")
    # in the report only: the median step is one whole pass on analytics,
    # and VmHWM follows G1's heap use more than the workload (30-50 %)
    detail["step_p50_s"] = (step, "s")
    detail["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    # the gated metrics are scaled to the reference host speed of each
    # phase (see Calib.scala); the report keeps them as measured too
    setup_speed = stats.host_speed(rec["calib_setup_s"], REF_SECONDS)
    timed_speed = stats.host_speed(rec["calib_s"], REF_SECONDS)
    detail["setup_wall_s"] = (setup_s, "s")
    detail["rate_wall_per_s"] = (rate, "1/s")
    detail["host.setup_speed"] = (setup_speed, "ratio")
    detail["host.timed_speed"] = (timed_speed, "ratio")
    metrics = {"setup_s": setup_s * setup_speed, "rate_per_s": rate / timed_speed}
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "samples": len(untraced), "traced_samples": len(samples(a.workload, rec, True)),
        "failures": rec["failures"] + [f"residue {r}" for r in residue],
        "env": {"nproc": nproc(), "cores": rec["cores"], "mem_total_mb": mem_total_mb(),
                "heap_mb": heap_mb(), "source": source_hash() or "sources:" + os.path.basename(classes),
                "build_s": round(build_s, 3), "setup_input_s": gen_s},
    }
    if a.trace:
        layers = layer_metrics(a.workload, rec, spans)
        by_name = stats.self_time_by_name(spans)
        report["self_time_s"] = {k: v / 1e9 for k, v in sorted(by_name.items())}
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print("perfbench report " + json.dumps(report, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
