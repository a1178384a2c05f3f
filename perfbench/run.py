#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload hw_pipelines --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds graft from src/main/scala (cached
while sources are unchanged), generates the workload's inputs from the
seed (cached by workload, seed and generator version), runs the workload in a fresh
`local[nproc]` JVM, checks its outputs, and prints the metrics. The last
stdout line is the JSON result; the full result, the JVM log and (with
--trace 1) the spans are kept under .bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind under perfbench/
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["hw_pipelines", "ingest"]
END_TO_END = {"setup_s": "s", "batch_s": "s", "request_p50_s": "s", "peak_rss_mb": "MB"}


# the registered queries timed on the catalog tables (hw_pipelines)
CATALOG = ["outlier_exact", "fft_outliers", "dedup_clusters", "dedup_ngram", "split_leak_safe",
           "export_plan", "curation_funnel", "text_rarity", "ann_ivfadc", "tpch_q1",
           "asof_last_click_tol", "freq_spacesaving_by_type"]


def _layer(prefix, counters):
    return ["%s.%s" % (prefix, k) for k in counters.split(",")]


# per-layer metrics of a traced run: `<module>.<Object>.<function>.<counter>`
# span counters (medians over the calls of the run), then engine totals;
# a layer the workload never calls reads 0
PER_LAYER = (
    _layer("pipelines.Hw1.run", "wall_s,jobs,driver_gap_s,exec_cpu_s,shuffle_bytes")
    + _layer("pipelines.Hw2.run", "wall_s,jobs")
    + _layer("sources.Points.withIds", "wall_s,jobs")
    + _layer("ops.Outliers.neighborCounts", "wall_s,exec_cpu_s,shuffle_bytes,tasks")
    + _layer("ops.Outliers.approxOutlierCounts", "wall_s,jobs,shuffle_bytes")
    + _layer("ops.Fft.coreset", "wall_s,jobs")
    + _layer("ops.Fft.radius", "wall_s")
    + _layer("streaming.Bounded.run", "wall_s,self_s,jobs,driver_gap_s")
    + [m for q in CATALOG for m in _layer("queries." + q, "build_s,exec_s,jobs")]
    + _layer("streaming.ContinuousIngest.bootstrap", "wall_s,jobs,driver_gap_s,files_written")
    + _layer("streaming.ContinuousIngest.ingestBatch",
             "wall_s,jobs,tasks,driver_gap_s,shuffle_bytes,input_bytes,files_written,bytes_written")
    + _layer("streaming.ContinuousIngest.compactState", "wall_s,jobs,driver_gap_s")
    + _layer("streaming.ContinuousIngest.deleteDocs", "wall_s,jobs,driver_gap_s")
    + _layer("streaming.Snapshot.export", "wall_s,jobs,bytes_written")
    + _layer("streaming.ContinuousIngest.loadQuantizers", "wall_s")
    + [m for f in ("annIvfMaintained", "annIvfPqMaintained", "annIvfFilteredMaintained")
       for m in _layer("streaming.ContinuousIngest." + f, "wall_s,jobs,input_bytes,driver_gap_s")]
    + ["serve.recall_at_10"]
    + _layer("spark", "jobs,tasks,exec_cpu_s,driver_gap_s,shuffle_bytes")
)


def unit_of(name):
    c = name.rsplit(".", 1)[1]
    if c.endswith("_s"):
        return "s"
    if c.endswith("bytes") or c == "bytes_written":
        return "bytes"
    if c.startswith("recall"):
        return "ratio"
    return "count"


JVM_TIMEOUT_S = 170
# a small heap and a fixed young generation leave G1 less room to size
# the heap by different amounts from run to run (its adaptive eden sizing
# follows measured pause times): over sets of ten runs the RSS peak
# spread 0.13-0.23 (hw_pipelines) and 0.10-0.16 (ingest) without -Xmn,
# 0.10-0.19 and 0.03-0.05 with it
HEAP = "1536m"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: a VM's stolen share of the run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return None


def git_state(checkout):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=checkout, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=checkout, capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_jvm(classes, workload, inputs, seconds, trace, seed, out_dir):
    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(out_dir, "jvm_result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + opens
           + ["-cp", classes + os.pathsep + build.SPARK_JARS + "/*", "graftbench.Main",
              workload, inputs, work, result_file, str(seconds), str(trace), str(seed)])
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(result_file):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise SystemExit("benchmark JVM produced no result (exit %s); log tail:\n%s"
                         % (p.returncode, tail))
    with open(result_file) as f:
        return json.load(f)


def check_catalog(r):
    """Compare each catalog query's row count and row hash, as the JVM
    reports them, with expected/catalog.json (written by expect.py from
    the DuckDB oracles); a mismatch is a failed check."""
    got = r["info"].get("catalog")
    if got is None:
        return
    with open(os.path.join(HERE, "expected", "catalog.json")) as f:
        expected = json.load(f)
    for q, exp in sorted(expected.items()):
        g = got.get(q)
        ok = g == exp
        r["attempted"] += 1
        r["failed"] += 0 if ok else 1
        r["checks"].append({"name": "catalog_%s_matches_oracle" % q, "ok": ok,
                            "detail": "" if ok else "engine %s, oracle %s" % (g, exp)})


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    checkout = os.getcwd()
    load_start = loadavg()
    steal0, total0 = cpu_ticks()
    classes, binfo = build.build(checkout)
    inputs, ginfo = gen.ensure_inputs(checkout, a.workload, a.seed)
    print("inputs: %s (%d bytes, sha256 %s..., %s in %.2f s, excluded from every metric)"
          % (inputs, ginfo["bytes"], ginfo["sha256"][:12],
             "cached" if ginfo["cached"] else "generated", ginfo["gen_s"]))
    out_dir = os.path.join(checkout, ".bench_out", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    os.makedirs(out_dir, exist_ok=True)
    r = run_jvm(classes, a.workload, inputs, a.seconds, a.trace, a.seed, out_dir)
    check_catalog(r)

    steal1, total1 = cpu_ticks()
    sha, dirty = git_state(checkout)
    r["env"] = {
        "nproc": os.cpu_count(), "mem_total_mb": mem_total_mb(),
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "git_sha": sha, "git_dirty": dirty, "source_sha256": binfo["source_sha256"],
        "jvm": r.pop("jvm"), "spark": r.pop("spark"), "seed": a.seed,
        "input_bytes": ginfo["bytes"], "input_sha256": ginfo["sha256"],
        "gen_s": ginfo["gen_s"], "build_s": binfo["build_s"],
    }
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(r, f, indent=1, sort_keys=True)

    def show(kind, name, value, unit):
        print("%s %-*s %s %s" % (kind, 68 if kind == "layer" else 28, name,
                                 "n/a" if value is None else "%.6g" % value, unit))

    for c in r["checks"]:
        print("check %-48s %s %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))
    show("metric", "error_rate", r["failed"] / max(1, r["attempted"]), "ratio")
    for k, v in r["named"].items():
        show("metric", k, v["value"], v["unit"])
    print("env %s" % json.dumps(r["env"], sort_keys=True))
    for k, unit in END_TO_END.items():
        show("metric", k, r[k], unit)

    if a.trace:
        layers = {k: r["per_layer"].get(k, 0.0) for k in PER_LAYER}
        for k in PER_LAYER:
            show("layer", k, layers[k], unit_of(k))
        untraced = os.path.join(checkout, ".bench_out",
                                "%s-seed%d-trace0" % (a.workload, a.seed), "result.json")
        if os.path.exists(untraced) and r["batch_s"] is not None:
            with open(untraced) as f:
                base = json.load(f)["batch_s"]
            if base is not None:
                print("trace overhead, batch part: %.4f s (traced %.4f s minus %.4f s of the "
                      "untraced run of this seed)" % (r["batch_s"] - base, r["batch_s"], base))
        if r["request_trace_overhead_s"] is not None:
            print("trace overhead, requests: %.4f s per request (median of %d traced rounds "
                  "minus median of %d untraced rounds, same JVM)"
                  % (r["request_trace_overhead_s"], len(r["traced_requests"]),
                     len(r["requests"])))
        print("spans: %s" % os.path.join(out_dir, "spans.json"))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": r[k], "unit": u} for k, u in END_TO_END.items()}
    correct = r["ok"] and r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
