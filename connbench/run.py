"""Connector-first benchmark for graft.

    python3 connbench/run.py --workload share_scan --seed 1 --seconds 12 --trace 0

Builds graft and the harness from source (``build.py``), generates the
seeded inputs (``gen.py``), runs one JVM that sets up a local sharing
server over them and drives a closed loop of ops through graft's public
entry points (``src/graftbench``), then prints every metric by name with
its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``). Each run
also leaves a result file, with host and provenance stamps, under
``.bench_build/connbench/results`` (or ``--results DIR``).
"""

import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("share_scan", "share_cdf", "curate_corpus")
JVM_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# (name, unit) of the end-to-end metrics, in BENCHMARK.json order
E2E = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
       ("rows_per_s", "rows/s"), ("cpu_s_per_op", "s"),
       ("rss_peak_mb", "MiB")]

# (name, unit, the end-to-end metric and workload it should move)
PER_LAYER = [
    ("client.calls_per_op", "count", "latency_p50_s on share_cdf"),
    ("client.ms_per_op", "ms", "latency_p50_s on share_cdf"),
    ("client.call_ms_p50", "ms", "latency_p50_s on share_cdf"),
    ("client.files_listed_per_op", "count", "latency_p50_s on share_cdf"),
    ("server.range_get_ms_small_file", "ms", "latency_p50_s on share_scan"),
    ("server.range_get_ms_large_file", "ms",
     "latency_p50_s, cpu_s_per_op on share_scan"),
    ("fs.footer_ms", "ms", "latency_p50_s on share_scan"),
    ("fs.file_read_mb_per_s", "MiB/s", "rows_per_s on share_scan"),
    ("fs.local_twin_ratio", "ratio", "latency_p50_s, rows_per_s on share_scan"),
    ("prune.files_listed", "count", "latency_p50_s on share_scan"),
    ("prune.files_kept_ratio", "ratio", "latency_p50_s on share_scan"),
    ("prune.ms", "ms", "latency_p50_s on share_scan"),
    ("plan.frame_ms", "ms", "latency_p50_s on share_cdf and share_scan"),
    ("plan.analysis_ms", "ms", "latency_p50_s on share_cdf and share_scan"),
    ("plan.optimization_ms", "ms", "latency_p50_s on share_cdf and share_scan"),
    ("plan.planning_ms", "ms", "latency_p50_s on share_cdf and share_scan"),
    ("cdf.versions_per_op", "count", "latency_p50_s on share_cdf"),
    ("cdf.change_files_per_op", "count", "latency_p50_s on share_cdf"),
    ("cdf.apply_ms", "ms", "latency_p50_s on share_cdf"),
    ("exec.jobs", "count", "latency_p50_s on share_cdf"),
    ("exec.stages", "count", "latency_p50_s on share_cdf"),
    ("exec.tasks", "count", "cpu_s_per_op on share_scan"),
    ("exec.task_cpu_s", "s", "cpu_s_per_op on share_scan"),
    ("exec.task_run_s", "s", "latency_p50_s on share_scan"),
    ("exec.cpu_busy_ratio", "ratio", "latency_p50_s on share_cdf"),
    ("exec.gc_s", "s", "cpu_s_per_op on share_scan"),
    ("exec.shuffle_write_mb", "MiB", "cpu_s_per_op on share_cdf"),
    ("exec.shuffle_read_mb", "MiB", "cpu_s_per_op on share_cdf"),
    ("exec.spill_mb", "MiB", "latency_p50_s on share_cdf"),
    ("exec.input_mb", "MiB", "none: observability of connector reads"),
    ("exec.records_read", "count", "rows_per_s on share_scan"),
    ("trace.overhead_pct", "%", "none: cost of tracing itself"),
]
# reported by traced curate_corpus runs only; that workload is outside
# BENCHMARK.json (see README.md)
CURATE_LAYER = [
    ("curate.quality_ms", "ms", "latency_p50_s on curate_corpus"),
    ("curate.dedup_ms", "ms", "latency_p50_s on curate_corpus"),
    ("curate.kept_ratio", "ratio", "none: fixed by the inputs"),
]

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "connbench")


def nproc():
    return len(os.sched_getaffinity(0))


def _median(xs):
    return stats.quartiles(xs)[1] if xs else 0.0


def e2e_metrics(rec):
    """Every end-to-end metric from a run's raw record."""
    ops = rec["ops"]
    lat = [o["latency_s"] for o in ops]
    tail = stats.tail(lat)
    wall = sum(lat)
    return {
        "setup_s": _median(rec["setup_rounds_s"]),
        "latency_p50_s": _median(lat),
        "latency_tail_s": tail[0] if tail else max(lat),
        "rows_per_s": sum(o["rows"] for o in ops) / wall,
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / len(ops),
        "rss_peak_mb": rec["rss_peak_mb"],
    }, tail


def per_layer_metrics(rec, spans):
    """Every per-layer metric of a traced run, from its samples and task
    metrics. Counts are per traced op; times are medians per call unless
    named per op."""
    s = rec["samples"]
    traced = [o for o in rec["ops"] if o["traced"]]
    n = max(len(traced), 1)

    def total(k):
        return sum(s.get(k, []))

    def med(k):
        return _median(s.get(k, []))

    ops = {o["i"]: o for o in rec["ops"]}
    groups = {int(g[3:]): v for g, v in rec["exec"].items()
              if g.startswith("op-")}
    ex = {f: sum(v[f] for v in groups.values()) for f in
          ("jobs", "stages", "tasks", "task_cpu_ns", "task_run_ms", "gc_ms",
           "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
           "input_bytes", "records_read")} if groups else {}
    n_exec = max(len(groups), 1)
    exec_wall = sum(ops[i]["latency_s"] for i in groups if i in ops)
    mib = 1024.0 * 1024.0

    def per_exec(f, scale=1.0):
        return ex.get(f, 0) / scale / n_exec

    # tracing overhead: per op type, median traced latency against median
    # untraced latency, summed over the types both halves ran
    def op_type(o):
        return o["kind"].split(".")[0]

    def type_median(t, flag):
        return _median([o["latency_s"] for o in rec["ops"]
                        if op_type(o) == t and o["traced"] == flag])
    both = sorted({op_type(o) for o in rec["ops"] if o["traced"]} &
                  {op_type(o) for o in rec["ops"] if not o["traced"]})
    untraced_sum = sum(type_median(t, False) for t in both)
    overhead = (100.0 * (sum(type_median(t, True) for t in both)
                         / untraced_sum - 1.0) if untraced_sum else 0.0)

    listed = total("prune.files_listed")
    return {
        "client.calls_per_op": len(s.get("client.call_ms", [])) / n,
        "client.ms_per_op": total("client.call_ms") / n,
        "client.call_ms_p50": med("client.call_ms"),
        "client.files_listed_per_op": total("client.files_listed") / n,
        "server.range_get_ms_small_file": med("server.range_get_ms_small_file"),
        "server.range_get_ms_large_file": med("server.range_get_ms_large_file"),
        "fs.footer_ms": med("fs.footer_ms"),
        "fs.file_read_mb_per_s": (total("fs.read_bytes") / mib
                                  / (total("fs.read_ms") / 1e3)
                                  if total("fs.read_ms") else 0.0),
        "fs.local_twin_ratio": (total("twin.op_s") / total("twin.local_s")
                                if total("twin.local_s") else 0.0),
        "prune.files_listed": listed / n,
        "prune.files_kept_ratio": total("prune.files_kept") / listed if listed else 0.0,
        "prune.ms": med("prune.ms"),
        "plan.frame_ms": _median([(x["end_ns"] - x["start_ns"]) / 1e6
                                  for x in spans if x["name"] == "plan.frame"]),
        "plan.analysis_ms": med("plan.analysis_ms"),
        "plan.optimization_ms": med("plan.optimization_ms"),
        "plan.planning_ms": med("plan.planning_ms"),
        "cdf.versions_per_op": total("cdf.versions") / n,
        "cdf.change_files_per_op": total("cdf.change_files") / n,
        "cdf.apply_ms": med("cdf.apply_ms"),
        "exec.jobs": per_exec("jobs"),
        "exec.stages": per_exec("stages"),
        "exec.tasks": per_exec("tasks"),
        "exec.task_cpu_s": per_exec("task_cpu_ns", 1e9),
        "exec.task_run_s": per_exec("task_run_ms", 1e3),
        "exec.cpu_busy_ratio": (ex.get("task_cpu_ns", 0) / 1e9
                                / (exec_wall * rec["cores"])
                                if exec_wall else 0.0),
        "exec.gc_s": per_exec("gc_ms", 1e3),
        "exec.shuffle_write_mb": per_exec("shuffle_write_bytes", mib),
        "exec.shuffle_read_mb": per_exec("shuffle_read_bytes", mib),
        "exec.spill_mb": per_exec("spill_bytes", mib),
        "exec.input_mb": per_exec("input_bytes", mib),
        "exec.records_read": per_exec("records_read"),
        "curate.quality_ms": med("curate.quality_ms"),
        "curate.dedup_ms": med("curate.dedup_ms"),
        "curate.kept_ratio": (total("curate.accepted") / total("curate.batch_rows")
                              if total("curate.batch_rows") else 0.0),
        "trace.overhead_pct": overhead,
    }


def _by_kind(ops):
    out = {}
    for o in ops:
        out.setdefault(o["kind"], []).append(o["latency_s"])
    return out


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def provenance():
    commit = None
    try:
        # the ceiling keeps git from searching above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True, env=env,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": commit, "source_hash": build.source_hash(),
            "nproc": nproc()}


def run_jvm(classes, workload, data, work, seconds, trace, deadline):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap and young generation: adaptive GC sizing moved both CPU
    # and RSS by up to a third from run to run. No hsperfdata, and every
    # temporary file inside the run directory.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-Xss8m", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", workload, "--data", data,
            "--work", work, "--out", raw, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(nproc())])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(raw):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-8000:])
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    with open(raw) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(BUILD_DIR, "results"))
    args = ap.parse_args(argv)

    load_start = os.getloadavg()[0]
    classes = build.build()
    data = gen.generate(os.path.join(BUILD_DIR, "data"), args.workload, args.seed)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    runs = os.path.join(BUILD_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        rec = run_jvm(classes, args.workload, data, work, args.seconds,
                      bool(args.trace), time.time() + JVM_DEADLINE_S)
        report(args, rec, manifest, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, rec, manifest, load_start):
    ops = rec["ops"]
    failed = [o for o in ops if o["error"]] + [
        {"i": "warmup", "error": e} for e in rec["warmup_errors"]]
    attempted = len(ops) + len(rec["warmup_errors"])
    e2e, tail = e2e_metrics(rec)
    spans = load_spans(rec["spans_file"]) if rec.get("spans_file") else []
    layer = per_layer_metrics(rec, spans) if args.trace else {}
    selfs = stats.self_times(spans)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    os.makedirs(args.results, exist_ok=True)
    base = os.path.join(args.results,
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}")
    if spans:
        shutil.copy(rec["spans_file"], base + ".spans.jsonl")
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "inputs": gen.sizes(manifest),
        "host": {"nproc": nproc(), "loadavg_1m_start": load_start,
                 "loadavg_1m_end": os.getloadavg()[0]},
        "provenance": dict(provenance(), java_version=rec["java_version"],
                           spark_version=rec["spark_version"]),
        "attempted": attempted, "failed": len(failed),
        "failed_ratio": len(failed) / attempted,
        "failures": failed[:20],
        "e2e": e2e,
        "latency_by_kind": {
            k: {"ops": len(v), "median_s": _median(v)} for k, v in sorted(
                _by_kind(ops).items())},
        "tail": {"percentile": tail[1], "ops": tail[2]} if tail else None,
        "setup_rounds_s": rec["setup_rounds_s"],
        "setup_cold_s": rec["setup_cold_s"],
        "per_layer": layer,
        "self_ms": {k: {"count": c, "total_ms": t, "self_ms": s}
                    for k, (c, t, s) in selfs.items()},
        "probe_errors": rec["probe_errors"],
        "ops": [{k: o[k] for k in ("kind", "traced", "latency_s", "cpu_s",
                                   "rows")} for o in ops],
    }
    with open(base + ".json", "w") as f:
        json.dump(result, f, indent=1)

    out = sys.stdout
    out.write(f"# {args.workload} seed={args.seed} trace={args.trace} "
              f"ops={len(ops)} failed={len(failed)} result={base}.json\n")
    for f in failed[:5]:
        out.write(f"#   FAILED op {f['i']}: {f['error']}\n")
    for name, unit in E2E:
        note = ""
        if name == "latency_tail_s" and tail:
            note = f"  (p{tail[1]:.1f} of {tail[2]} ops, 10 beyond)"
        if name == "setup_s":
            note = (f"  (median of {len(rec['setup_rounds_s'])} rounds; "
                    f"first from JVM start {rec['setup_cold_s']:.3f} s)")
        out.write(f"{name} = {e2e[name]:.6g} {unit}{note}\n")
    out.write(f"failed_ratio = {len(failed) / attempted:.6g} ratio\n")
    for k, v in sorted(_by_kind(ops).items()):
        out.write(f"#   {k}: {len(v)} ops, median {_median(v):.4g} s\n")
    if args.trace:
        shown = PER_LAYER + (CURATE_LAYER if args.workload == "curate_corpus" else [])
        for name, unit, moves in shown:
            out.write(f"{name} = {layer[name]:.6g} {unit}  (should move {moves})\n")
        out.write("# span self time (ms): name count total self\n")
        for k, (c, t, s) in sorted(selfs.items(), key=lambda kv: -kv[1][2]):
            out.write(f"#   {k} {c} {t:.1f} {s:.1f}\n")
        for e in rec["probe_errors"][:5]:
            out.write(f"#   probe error: {e}\n")
    metrics = ({n: {"value": layer[n], "unit": u} for n, u, _ in PER_LAYER}
               if args.trace else
               {n: {"value": e2e[n], "unit": u} for n, u in E2E})
    out.write(json.dumps({"correct": not failed and not rec["probe_errors"],
                          "attempted": attempted, "failed": len(failed),
                          "metrics": metrics}) + "\n")


if __name__ == "__main__":
    main()
