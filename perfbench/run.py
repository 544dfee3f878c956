#!/usr/bin/env python3
"""Pipeline and serving benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (build.py), generates the workload's inputs
from the seed (gen.py), runs the workload in one JVM (scala/perfbench),
checks its outputs against DuckDB (check.py), prints a report line with
every metric and its provenance, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. End-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exits non-zero when an output
check fails. Metric definitions and predictions: perfbench/README.md.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing beside the sources
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_build"
SETUP_ROUNDS = 2
JVM_TIMEOUT_S = 165

WORKLOADS = {
    "ingest_pipeline": "the reference's own job (land, skip-ingested, clean, upsert) plus the "
                       "dedup screen and index refresh: ingest, commit, index and JDBC writes "
                       "dominate, operator CPU is small, nothing is served",
    "serving_probes": "tiny read-only probes against persisted stores, and report queries of "
                      "the analytics modules on sf0.01 tables: planning, codegen, job "
                      "scheduling and store reads are nearly all the work, scan and shuffle "
                      "near zero",
}

# the gated metrics; the report line also carries tails, peak RSS and the
# per-workload names (README.md, "End-to-end metrics")
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("throughput_per_s", "1/s")]


def tail(values):
    """Highest percentile with at least ten samples beyond it, and that
    percentile (nearest-rank), or None when there are fewer than 11."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None
    k = n - 10                      # rank with exactly ten samples above it
    return v[k - 1], round(100.0 * k / n, 1)


def jvm_cmd(classes, work, argv):
    jars = build.spark_jars()
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + flags +
            ["-Dspark.sql.codegen.cache.maxEntries=10000",
             "-Dspark.shuffle.sort.bypassMergeThreshold=1",
             "-Dspark.hadoop.fs.file.impl=graft.sources.NioLocalFileSystem",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}",
             f"-Dderby.stream.error.file={work}/derby.log",
             "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + argv)


def inputs_for(workload, seed):
    d = OUT / "inputs" / f"{workload}-{seed}"
    done = d / "provenance.json"
    if done.exists():
        return d, json.loads(done.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    prov = (gen.pipeline if workload == "ingest_pipeline" else gen.serving)(str(d), seed)
    done.write_text(json.dumps(prov))
    return d, prov


def host(jdk):
    mem = next((line.split()[1] for line in open("/proc/meminfo") if line.startswith("MemTotal")),
               "0")
    commit = os.environ.get("PERFBENCH_COMMIT") or _git_head()
    return {"nproc": os.cpu_count(), "mem_gb": round(int(mem) / 1048576, 1), "jdk": jdk,
            "python": platform.python_version(), "commit": commit}


def _git_head():
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return "not a git checkout"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        p = ROOT / ".git" / ref[5:]
        return p.read_text().strip() if p.exists() else ref[5:]
    return ref


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    t_gen = time.time()
    inputs, prov = inputs_for(a.workload, a.seed)
    gen_s = time.time() - t_gen
    work = OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cpus = os.cpu_count()
    argv = [a.workload, str(inputs), str(work), str(result_file), str(a.seconds),
            str(a.trace), str(cpus), str(SETUP_ROUNDS)]
    try:
        with open(work / "jvm.log", "w") as log:
            proc = subprocess.run(jvm_cmd(classes, work, argv), cwd=work, stdout=log,
                                  stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s; log at {work / 'jvm.log'}")
    if proc.returncode != 0 or not result_file.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.exit(f"perfbench: JVM failed ({proc.returncode}); log at {work / 'jvm.log'}")
    res = json.loads(result_file.read_text())

    problems, bad_ops = check.run(a.workload, res, inputs)
    phase = res["plain"]
    lat = phase["latencies_ms"]
    p50 = statistics.median(lat) if lat else None
    tail_v, tail_pct = tail(lat)
    throughput = phase["units"] / phase["wall_s"] if phase["wall_s"] > 0 else 0.0
    setup = statistics.median(res["setup_s"])
    # an op that ran in the timed loop but whose output check failed counts
    # as failed too (a report query failing its oracle counts once)
    attempted = res["attempted"]
    n_failed = min(attempted, res["failed"] + len(bad_ops))

    named = {"setup_s": (setup, "s"), "failed_ratio": (n_failed / max(1, attempted), "ratio"),
             "peak_rss_mb": (res["peak_rss_mb"], "MB"),
             "operators.Dedup.screenBatch.accept_ratio":
                 (check.accept_ratio(a.workload, res), "ratio")}
    if a.workload == "ingest_pipeline":
        named.update(batch_p50_s=(p50 / 1000, "s"),
                     batch_tail_s=(tail_v / 1000 if tail_v else None, f"s@p{tail_pct}"),
                     rows_per_s=(throughput, "rows/s"))
    else:
        named.update(probe_p50_ms=(p50, "ms"),
                     probe_tail_ms=(tail_v, f"ms@p{tail_pct}"))
    for kind in sorted(set(phase["kinds"])):
        kl = [x for x, k in zip(lat, phase["kinds"]) if k == kind]
        named[f"{kind}_p50_ms"] = (statistics.median(kl), f"ms over {len(kl)}")

    if a.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in layers["metrics"]}
        tr = res["traced"]["latencies_ms"]
        overhead = statistics.median(tr) - p50 if tr and p50 is not None else 0.0
        metrics["trace.overhead_p50_ms"] = {"value": overhead, "unit": "ms"}
        metrics["sources.JdbcUpsert.upsert.dead_ratio"] = {
            "value": check.dead_ratio(a.workload, res), "unit": "ratio"}
        spans_file = work.parent.parent / f"trace-{a.workload}-{a.seed}.json"
        spans_file.write_text(json.dumps({"spans": layers["spans"], "extra": layers["extra"]}))
    else:
        vals = {"setup_s": setup, "latency_p50_ms": p50, "throughput_per_s": throughput}
        missing = [k for k, v in vals.items() if not v]
        if missing:
            problems.append(f"metrics not measurable in this run: {missing} "
                            f"({len(lat)} ops timed)")
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "why": WORKLOADS[a.workload], "named_metrics": named,
        "ops_timed": len(lat), "latencies_ms": [round(x, 1) for x in lat],
        "setup_rounds_s": res["setup_s"], "prepare_s": res["prepare_s"],
        "input_generation_s": round(gen_s, 3), "inputs": prov, "engine": res["provenance"],
        "host": host(res["jdk"]), "spark": res["spark_version"], "session_conf": res["session_conf"],
        "problems": problems, "failed_ops": bad_ops,
    }
    if a.trace:
        report["self_ms_per_call"] = res["layers"]["extra"]["self_ms_per_call"]
        report["trace_file"] = str(spans_file.relative_to(ROOT))
    print(json.dumps(report))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
