#!/usr/bin/env python3
"""Lake benchmark: one run of one workload against the engine built from
this checkout.

    python3 lakebench/run.py --workload lake_plan --seed 1 --seconds 12 --trace 0

Builds the engine plus the harness with sbt on first use (lakebench/build.sbt
compiles ../src/main together with lakebench/src), runs one JVM, and prints a
summary followed, as the last line of stdout, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` traces every second block of ops and reports
the per-layer metrics of the traced blocks and the tracing overhead.
See lakebench/README.md for the workloads and what each metric means."""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("lake_plan", "lake_rw", "llm_pipe")
SETUPS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 170

# The reference task's duration, in ms, on an idle host of the kind the
# benchmark was tuned on (4 vCPUs); normalized timings are scaled to it.
HOST_REF_MS = 5.0

# Recall floors for llm_pipe: a run whose mean recall falls below one fails.
LSH_RECALL_FLOOR = 0.9
TOPK_RECALL_FLOOR = 0.5

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """SHA-256 over the engine and harness sources and build files: the
    inputs of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the classpath was built from these sources."""
    stamp = os.path.join(TARGET, "lakebench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return cp_file
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env["SBT_OPTS"] = env.get("SBT_OPTS") or opts
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp_file


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp_file, args, cores, result_path):
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(cp_file) as f:
        cp = f.read().strip()
    # A fixed, pre-touched heap and the throughput collector: no heap
    # resizing and no concurrent GC threads competing with the client.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # setup_s is an end-to-end metric, so traced runs set up only once
    setups = 1 if args.trace else SETUPS
    cmd += ["-cp", cp, "lakebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
            "--setups", str(setups), "--work", work, "--out", result_path]
    jvm_log = os.path.join(OUT, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM timed out; see {jvm_log}")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"JVM exited with {code}; see {jvm_log}")


def metric(value, unit):
    return {"value": value, "unit": unit}


def latency_detail(name, summary):
    """p50 and tail of one op class, with the tail's percentile and count."""
    s = summary["samples"]
    out = {f"{name}_p50_ms": statistics.median(s) if s else None}
    t = stats.tail(s)
    out[f"{name}_tail_ms"] = t[1] if t else None
    out[f"{name}_tail_pct"] = t[0] if t else None
    out[f"{name}_n"] = len(s)
    return out


def end_to_end(workload, res):
    w = res["window"]
    ops = w["ops"]
    main = stats.op_summary(ops, set(res["main_kinds"]))
    # Point plans run at one of two speeds, about 1.7x apart, that alternate
    # in stretches of tens of ops with the host's state; the median jumps
    # between the two as their shares shift, while the mean moves with the
    # shares smoothly and the host reference follows it. Elsewhere the
    # median, since reads and passes have rare slow outliers.
    main_stat = statistics.fmean if workload == "lake_plan" else statistics.median
    # Side latency: per side op kind (or, on llm_pipe, timed sub-step of each
    # pass) its median, averaged over the kinds. lake_rw has two commit kinds
    # of different cost, one each per block; a median over both would fall
    # in the gap between them.
    side_samples = {k: stats.op_summary(ops, {k})["samples"] +
                    [o["sub"][k] for o in ops if o["ok"] and k in o["sub"]]
                    for k in res["side_kinds"]}
    side = {"samples": [v for vs in side_samples.values() for v in vs]}
    completed = sum(1 for o in ops if o["ok"])
    ops_per_s = completed / w["seconds"]
    main_ms = main_stat(main["samples"])
    side_p50 = stats.mean_of_medians(side_samples.values())
    # Timings scaled to the reference host speed: the host's speed drifts
    # by more than the bounds from minute to minute, and the reference task
    # run between ops in the same window measures that drift.
    host_ms = statistics.median(w["ref_ms"])
    scale = HOST_REF_MS / host_ms
    metrics = {
        "setup_s": metric(statistics.median(res["setup_s"]), "s"),
        "norm_ops_per_s": metric(ops_per_s / scale, "1/s"),
        "norm_main_ms": metric(main_ms * scale, "ms"),
        "norm_side_p50_ms": metric(side_p50 * scale, "ms"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }
    detail = {"failed_ratio": stats.failed_ratio(len(ops), len(ops) - completed),
              "host_ref_ms": host_ms, "host_ref_n": len(w["ref_ms"]),
              "ops_per_s": ops_per_s, "main_ms": main_ms, "side_p50_ms": side_p50,
              "main_cpu_p50_ms": statistics.median(
                  o["cpu_ms"] for o in ops if o["ok"] and o["kind"] in res["main_kinds"]),
              "setup_runs_s": res["setup_s"], "prepare_s": res["prepare_s"]}
    names = {"lake_plan": ("plan_point", "plan_cold"), "lake_rw": ("read", "commit"),
             "llm_pipe": ("pipeline", "dedup")}[workload]
    detail.update(latency_detail(names[0], main))
    detail.update(latency_detail(names[1], side))
    if len(side_samples) > 1:
        for k, v in sorted(side_samples.items()):
            detail.update(latency_detail(k, {"samples": v}))
    for step in sorted({k for o in ops for k in o["sub"]} - set(res["side_kinds"])):
        detail.update(latency_detail(step, {"samples": [o["sub"][step] for o in ops
                                                         if o["ok"] and step in o["sub"]]}))
    problems = []
    if workload == "llm_pipe":
        rep = res["report"]
        passes = rep["passes"]
        detail["pipeline_p50_s"] = detail["pipeline_p50_ms"] / 1000.0
        detail["lsh_recall"] = statistics.fmean(
            stats.pair_recall(p["found_pairs"], rep["exact_pairs"]) for p in passes)
        detail["topk_recall"] = statistics.fmean(stats.topk_recall(p["topk"]) for p in passes)
        detail["exact_pairs"] = len(rep["exact_pairs"])
        if detail["lsh_recall"] < LSH_RECALL_FLOOR:
            problems.append(f"lsh_recall {detail['lsh_recall']:.4f} < {LSH_RECALL_FLOOR}")
        if detail["topk_recall"] < TOPK_RECALL_FLOOR:
            problems.append(f"topk_recall {detail['topk_recall']:.4f} < {TOPK_RECALL_FLOOR}")
    return metrics, detail, problems


def per_layer(res):
    """Per-layer metrics from the traced blocks of the window; the untraced
    blocks in between give the tracing overhead."""
    w = res["window"]
    traced = [o for o in w["ops"] if o["traced"]]
    untraced = [o for o in w["ops"] if not o["traced"]]
    n = max(1, len(traced))
    traced_s = sum(o["ms"] for o in traced) / 1000.0
    c, e = w["counters"], res["exec"]["t"]
    with open(os.path.join(OUT, w["spans"])) as f:
        spans = [json.loads(line) for line in f]
    span_ms = {}
    for s in spans:
        span_ms[s["name"]] = span_ms.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e6
    per_op = lambda name: span_ms.get(name, 0.0) / n
    ratio = lambda a, b: a / b if b else 0.0
    cnt = lambda name: c.get(name, 0.0)
    m = {}

    def put(name, value, unit):
        m[name] = metric(value, unit)

    put("meta.load_ms", per_op("meta.load"), "ms/op")
    put("meta.json_bytes", ratio(cnt("meta.json_bytes"), cnt("meta.loads")), "B")
    put("meta.snapshots", ratio(cnt("meta.snapshots"), cnt("meta.loads")), "count")
    put("manifests.list_ms", per_op("manifests.list"), "ms/op")
    put("manifests.decode_ms", per_op("manifests.decode"), "ms/op")
    put("manifests.read", cnt("manifests.read") / n, "count/op")
    put("manifests.entries_decoded", cnt("manifests.entries_decoded") / n, "count/op")
    put("manifests.bytes_read", cnt("manifests.bytes_read") / n, "B/op")
    put("prune.eval_ms", per_op("prune.eval"), "ms/op")
    put("prune.manifest_keep_ratio",
        ratio(cnt("prune.manifests_kept"), cnt("prune.manifests_total")), "ratio")
    put("prune.file_keep_ratio", ratio(cnt("prune.files_kept"), cnt("prune.files_total")), "ratio")
    put("sql.analysis_ms", per_op("sql.analysis"), "ms/op")
    put("sql.optimize_ms", per_op("sql.optimize"), "ms/op")
    put("sql.physical_ms", per_op("sql.physical"), "ms/op")
    put("scan.input_partitions", ratio(cnt("scan.input_partitions"), cnt("scan.queries")),
        "count/query")
    put("scan.exec_ms", per_op("scan.exec"), "ms/op")
    put("scan.input_bytes", e["scan_input_bytes"] / n, "B/op")
    put("scan.input_records", e["scan_input_records"] / n, "count/op")
    put("scan.rows_out_per_record_read", ratio(cnt("scan.rows_out"), e["scan_input_records"]),
        "ratio")
    put("mor.delete_files_live", ratio(cnt("mor.delete_files_live"), cnt("mor.reads")), "count")
    put("mor.delete_rows_live", ratio(cnt("mor.delete_rows_live"), cnt("mor.reads")), "count")
    put("write.append_ms", per_op("write.append"), "ms/op")
    put("write.delete_ms", per_op("write.delete"), "ms/op")
    put("write.data_bytes", ratio(cnt("write.data_bytes"), cnt("write.commits")), "B/commit")
    put("write.metadata_bytes", ratio(cnt("write.metadata_bytes"), cnt("write.commits")),
        "B/commit")
    put("write.metadata_bytes_per_data_byte",
        ratio(cnt("write.metadata_bytes"), cnt("write.data_bytes")), "ratio")
    put("write.manifests_per_snapshot", ratio(cnt("write.manifests"), cnt("write.commits")),
        "count")
    put("dedup.exact_ms", per_op("dedup.exact"), "ms/op")
    put("dedup.minhash_ms", per_op("dedup.minhash"), "ms/op")
    put("dedup.pairs_out", cnt("dedup.pairs_out") / n, "count/op")
    put("sim.lsh_topk_ms", per_op("sim.lsh_topk"), "ms/op")
    put("exec.jobs", e["jobs"] / n, "count/op")
    put("exec.stages", e["stages"] / n, "count/op")
    put("exec.tasks", e["tasks"] / n, "count/op")
    put("exec.run_ms", e["run_ms"] / n, "ms/op")
    put("exec.cpu_ms", e["cpu_ms"] / n, "ms/op")
    put("exec.gc_ms", e["gc_ms"] / n, "ms/op")
    put("exec.shuffle_read_bytes", e["shuffle_read_bytes"] / n, "B/op")
    put("exec.shuffle_write_bytes", e["shuffle_write_bytes"] / n, "B/op")
    put("exec.spill_bytes", e["spill_bytes"] / n, "B/op")
    put("exec.slot_utilization",
        ratio(e["run_ms"], traced_s * 1000.0 * res["fingerprint"]["local_k"]), "ratio")
    self_ms = stats.self_times_ms(spans)
    for layer in ("client", "meta", "manifests", "prune", "plan", "scan", "write", "kernel"):
        put(f"self.{layer}_ms", self_ms.get(layer, 0.0) / n, "ms/op")
    rate = lambda ops: ratio(sum(1 for o in ops if o["ok"]), sum(o["ms"] for o in ops))
    put("trace.overhead", ratio(rate(untraced), rate(traced)) - 1.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to lakebench/")
    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    cp_file = build(digest)
    # Two task slots leave the other cores to the client thread, the
    # collector and the JIT, so executor tasks do not queue behind them.
    cores = min(2, os.cpu_count() or 1)
    result_path = os.path.join(OUT, f"{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    run_jvm(cp_file, args, cores, result_path)
    with open(result_path) as f:
        res = json.load(f)

    fingerprint = dict(res["fingerprint"], xmx=HEAP, seed=args.seed, source_sha256=digest,
                       git_head=git_head())
    failures = list(res["checks"]["failures"])
    failures += [f"op failed: {e}" for e in res["window"]["errors"]]
    ops = res["window"]["ops"]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    if args.trace:
        metrics, detail = per_layer(res), {}
    else:
        metrics, detail, problems = end_to_end(args.workload, res)
        failures += problems
    correct = not failures and failed == 0 and res["checks"]["passed"] > 0

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"checks_passed={res['checks']['passed']} correct={correct}")
    print("fingerprint " + json.dumps(fingerprint, sort_keys=True))
    for k, v in detail.items():
        print(f"  {k} = {v}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']} {v['unit']}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
