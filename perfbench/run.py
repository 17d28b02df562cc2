#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and the batch query set.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  cdc_catchup    drain a backlog of 400-event segments, ~10% replayed
  batch_queries  twelve SparkEntry.queries entries in one warm session

The first run in a checkout builds the program and the harness with sbt.
Inputs are generated from the seed under perfbench/.work and removed after
the run; each run leaves a self-describing artifact under perfbench/.out.
The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("cdc_catchup", "batch_queries")
SEGMENT = 400  # events per catch-up segment
CATCHUP_EVENTS_PER_S = 12_000  # backlog size per measured second
WARM_EVENTS = 40_000  # four micro-batches of the measured size
TABLE_SCALE = 0.01
HEAP = "2g"
RUN_LIMIT_S = 170  # every run ends within 180 s; the build is extra

# Metric names and units come from BENCHMARK.json, next to this directory.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


# ---- build -----------------------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_unchanged(classpath, stamp):
    """True if every directory on the cached classpath is still there and
    holds no file written after the stamp. A build of the program by other
    means (its own `sbt compile` or `sbt test`) writes into the same class
    directories, and its classes need not come from the sources the stamp
    names."""
    since = os.path.getmtime(stamp)
    for entry in classpath.split(os.pathsep):
        if entry.endswith(".jar"):
            continue
        if not os.path.isdir(entry):
            return False
        for d, _, files in os.walk(entry):
            if any(os.path.getmtime(os.path.join(d, f)) > since for f in files):
                return False
    return True


def build():
    """Compile the program and the harness once per source state; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the program's sources are not in this checkout")
    digest = sources_digest()
    stamp = os.path.join(BENCH, ".build", "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest and classes_unchanged(s["classpath"], stamp):
            return s["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building program and harness with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1], digest


def java_cmd(classpath, work):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main"]


# ---- inputs ------------------------------------------------------------------

def make_inputs(a, work, passes):
    """Generate this run's inputs; return (median generation seconds,
    manifest, failures)."""
    failures = []
    if a.workload == "batch_queries":
        make = lambda: (gen.table_bytes(gen.tables(a.seed, TABLE_SCALE)), {})
        targets = [os.path.join(work, "data")]
    else:
        events = max(1, round(a.seconds * CATCHUP_EVENTS_PER_S / SEGMENT)) * SEGMENT
        make = lambda: gen.backlog(a.seed, events, SEGMENT)
        targets = [os.path.join(work, f"in-{i}") for i in range(passes)]
    (files, manifest), gen_s, digests = gen.timed_repeats(make, 3)
    if len(set(digests)) != 1:
        failures.append("generator: the same seed gave different bytes")
    manifest["digest"] = digests[0]
    mtime0 = time.time() - len(files) * 0.01 - 1
    for t in targets:
        gen.write_files(t, files, mtime0)
    if a.workload == "cdc_catchup":
        # the warm-up drain's own input, read by its own query
        warm, _ = gen.backlog(a.seed + 1, WARM_EVENTS, SEGMENT)
        gen.write_files(os.path.join(work, "warm"), warm, mtime0 - 100)
    return gen_s, manifest, failures


# ---- checks and metrics -------------------------------------------------------

def file_batches(ckpt):
    """{segment file name: id of the micro-batch that read it}. The file
    source's log numbers its own offsets; the query's offset log maps each
    micro-batch to the source offset it read up to."""
    source_offset = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if p.endswith((".tmp", ".crc")) or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    source_offset[os.path.basename(e["path"])] = e["batchId"]
    read_up_to = []
    for p in glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")):
        with open(p) as f:
            last = f.read().strip().splitlines()[-1]
        read_up_to.append((json.loads(last)["logOffset"], int(os.path.basename(p))))
    read_up_to.sort()
    out = {}
    for name, off in source_offset.items():
        batch = next((b for o, b in read_up_to if o >= off), None)
        if batch is not None:
            out[name] = batch
    return out


def check_cdc(p, manifest, con):
    """Output check of one CDC pass: every valid uuid in the parquet sink
    exactly once, and per-topic counts equal to the generator's."""
    failures = []
    files = glob.glob(os.path.join(p["out"], "**", "*.parquet"), recursive=True)
    if not files:
        return manifest["valid"], [f"{p['out']}: parquet sink wrote nothing"], (0, 0, 0)
    rel = f"read_parquet('{p['out']}/**/*.parquet', hive_partitioning=1)"
    rows, uniq = con.execute(
        f"SELECT count(*), count(DISTINCT json_extract_string(value, '$.uuid')) FROM {rel}"
    ).fetchone()
    topics = dict(con.execute(f"SELECT topic, count(*) FROM {rel} GROUP BY 1").fetchall())
    lost = max(0, manifest["valid"] - uniq)
    dup = rows - uniq
    bad_topics = sum(abs(topics.get(t, 0) - n) for t, n in manifest["topics"].items())
    bad_topics += sum(n for t, n in topics.items() if t not in manifest["topics"])
    if lost:
        failures.append(f"cdc: {lost} valid events missing from the parquet sink")
    if dup:
        failures.append(f"cdc: {dup} events duplicated in the parquet sink")
    if bad_topics:
        failures.append(f"cdc: per-topic counts off by {bad_topics}: {topics} vs "
                        f"{manifest['topics']}")
    size = sum(os.path.getsize(f) for f in files)
    return lost + dup + bad_topics, failures, (rows, len(files), size)


def cdc_pass(p, manifest, con):
    """(e2e metrics, failed count, failures, extra layer metrics, info) of one
    pass. Every segment is due at the drain start, so a segment's latency is
    its drain position: the time from the start until its batch committed."""
    failures = []
    due = {n: p["start_ms"] for n in os.listdir(p["input"]) if not n.startswith(".")}
    commit = {int(b): end for b, _, end in p["batches"]}
    batch_of = file_batches(p["ckpt"])
    lags, uncommitted = [], []
    for name, t in due.items():
        b = batch_of.get(name)
        if b is None or b not in commit:
            uncommitted.append(name)
        else:
            lags.append(commit[b] - t)
    if uncommitted:
        failures.append(f"cdc: {len(uncommitted)} segments never committed, "
                        f"e.g. {sorted(uncommitted)[:3]}")
    # Segments waiting when a batch started: written by then, not yet read.
    backlog = [sum(t <= start for t in due.values())
               - sum(1 for n in due if batch_of.get(n, b) < b)
               for b, start, _ in p["batches"]]
    failed, out_failures, (rows, nfiles, size) = check_cdc(p, manifest, con)
    failures += out_failures
    failed += len(uncommitted) * SEGMENT
    first = min(due.values())
    last = max(commit.values()) if commit else first
    metrics = {
        "throughput_per_s": manifest["delivered"] / max((last - first) / 1000.0, 1e-3),
        "latency_ms_p50": statistics.median(lags) if lags else 0.0,
        "latency_ms_p90": pct(lags, 0.9) if lags else 0.0,
    }
    extra = {"sources.backlog_segments_max": max(backlog, default=0),
             "sinks.parquet.rows": rows, "sinks.parquet.files": nfiles,
             "sinks.parquet.bytes": size}
    info = {"segments": len(due), "lag_samples": len(lags), "batches": len(commit),
            "leaks": p["leaks"],
            "batch_ms": [end - start for _, start, end in sorted(p["batches"])]}
    return metrics, failed, failures, extra, info


def check_oracles(work):
    """Each query's cold-pass result against its DuckDB oracle, by the
    repository's own compare tool. Returns (queries checked, failures)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        os.path.join(work, "data"), os.path.join(work, "results")],
                       capture_output=True, text=True, timeout=120)
    lines = [ln.strip() for ln in r.stdout.splitlines()]
    checked = sum(ln.startswith(("[PASS]", "[FAIL", "[rows-only]")) for ln in lines)
    failures = [f"oracle: {ln}" for ln in lines if ln.startswith("[FAIL")]
    if r.returncode != 0 and not failures:
        failures.append(f"oracle: tools/compare.py exited {r.returncode}: {r.stderr[-300:]}")
    return checked, failures


def batch_pass(p):
    times = [s for _, s in p["times"]]
    wall = (p["end_ms"] - p["start_ms"]) / 1000.0
    per_query = {}
    for q, s in p["times"]:
        per_query.setdefault(q, []).append(s)
    medians = {q: statistics.median(v) for q, v in per_query.items()}
    metrics = {
        "throughput_per_s": len(times) / wall,
        "latency_ms_p50": 1000 * statistics.median(times),
        "latency_ms_p90": 1000 * pct(times, 0.9),
    }
    info = {"executions": len(times), "passes": len(times) // max(len(per_query), 1),
            "leaks": p["leaks"],
            "suite_s": sum(medians.values()),
            "query_s_p50": statistics.median(medians.values()), "query_s": medians}
    return metrics, info


def leak_metrics(leaks, before, baseline):
    """Counts after the last query or stream, and how many of them left more
    persisted RDDs behind than there were before them. Listeners count from
    the fresh session's."""
    prev = [before] + [c["persisted"] for c in leaks[:-1]]
    return {
        "cache.persisted_rdds_after": leaks[-1]["persisted"],
        "cache.leaking_queries": sum(c["persisted"] > b for c, b in zip(leaks, prev)),
        "cache.listeners_after": leaks[-1]["listeners"] - baseline["listeners"],
        "cache.streams_active_after": leaks[-1]["streams"],
    }


def span_summary(path):
    """Self time per span name: duration minus the part its children cover.
    Spans without a recorded parent get the innermost span containing them."""
    with open(path) as f:
        spans = [json.loads(ln) for ln in f if ln.strip()]
    for s in spans:
        if s["parent"] == 0:
            outer = [o for o in spans if o is not s and o["start_us"] <= s["start_us"]
                     and s["end_us"] <= o["end_us"]
                     and (o["end_us"] - o["start_us"]) > (s["end_us"] - s["start_us"])]
            if outer:
                s["parent"] = min(outer, key=lambda o: o["end_us"] - o["start_us"])["id"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_us"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            lo, hi = max(c["start_us"], end), min(c["end_us"], s["end_us"])
            if hi > lo:
                covered += hi - lo
                end = hi
        agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += (s["end_us"] - s["start_us"]) / 1000
        agg["self_ms"] += (s["end_us"] - s["start_us"] - covered) / 1000
    return len(spans), out


# ---- main ----------------------------------------------------------------------

def run_harness(a, classpath, work, cores, t_start):
    """Run the harness JVM within the run's time limit; return its result."""
    result_path = os.path.join(work, "result.json")
    cmd = java_cmd(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cores", str(cores),
        "--out", result_path]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_LIMIT_S - (time.time() - t_start))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: the run did not finish within {RUN_LIMIT_S} s")
    if r.returncode != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: the harness failed (exit {r.returncode})")
    with open(result_path) as f:
        return json.load(f)


def evaluate(a, res, manifest, work):
    """Check every pass's output and derive its metrics. Returns (attempted,
    failed, failures, per-pass metrics, per-pass layer extras, per-pass info)."""
    attempted, failed, failures, metrics, extras, infos = 0, 0, [], [], [], []
    if a.workload == "batch_queries":
        n_checked, ora = check_oracles(work)
        failures += [f"query {q}: {e}" for q, e in res["errors"]] + ora
        for p in res["passes"]:
            m, info = batch_pass(p)
            metrics.append(m)
            extras.append({})
            infos.append(info)
        attempted = n_checked + sum(i["executions"] for i in infos)
        failed = len(res["errors"]) + len(ora)
    else:
        import duckdb
        con = duckdb.connect()
        for p in res["passes"]:
            m, n_bad, bad, extra, info = cdc_pass(p, manifest, con)
            metrics.append(m)
            extras.append(extra)
            infos.append(info)
            attempted += manifest["valid"]
            failed += n_bad
            failures += bad
        con.close()
    return attempted, failed, failures, metrics, extras, infos


def layer_metrics(res, metrics, extras, work):
    """Per-layer metrics of the traced pass (the second of three)."""
    n_spans, self_time = span_summary(os.path.join(work, "spans.jsonl"))
    traced = res["passes"][1]
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(traced["layers"])
    layers.update(extras[1])
    layers.update(leak_metrics(traced["leaks"], res["passes"][0]["leaks"][-1]["persisted"],
                               res["leaks_baseline"]))
    layers["trace.spans"] = n_spans
    untraced = (metrics[0]["latency_ms_p50"] + metrics[2]["latency_ms_p50"]) / 2
    layers["trace.overhead_pct"] = 100.0 * (metrics[1]["latency_ms_p50"] / untraced - 1.0)
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise SystemExit(f"perfbench: per-layer metrics missing from BENCHMARK.json: "
                         f"{sorted(unknown)}")
    return layers, self_time


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    load_before = os.getloadavg()
    classpath, src_digest = build()
    t_start = time.time()
    # Two Spark cores and the parallel collector: in one five-seed comparison
    # on a shared 4-core box they cut the run-to-run spread of the catch-up
    # drain rate from 12% (four cores, G1) to 4%.
    cores = min(2, os.cpu_count() or 1)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s, manifest, gen_failures = make_inputs(a, work, passes=3 if a.trace else 1)
        res = run_harness(a, classpath, work, cores, t_start)
        attempted, failed, failures, metrics, extras, infos = evaluate(a, res, manifest, work)
        # the byte-identical regeneration check is one more operation
        attempted += 1
        failed += len(gen_failures)
        failures = gen_failures + failures
        e2e = {"setup_s": gen_s + res["session_s"] + res["warm_s"], **metrics[0],
               "peak_rss_mb": res["rss_peak_mb"]}
        layers, self_time = layer_metrics(res, metrics, extras, work) if a.trace else ({}, None)
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_commit": git_commit(), "source_digest": src_digest,
            "nproc": os.cpu_count(), "spark_cores": res["cores"],
            "heap_max_mb": res["heap_max_mb"], "spark_version": res["spark_version"],
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "setup": {"gen_s": gen_s, "session_s": res["session_s"], "warm_s": res["warm_s"]},
            "input": manifest, "end_to_end": e2e, "per_layer": layers,
            "passes": infos, "pass_metrics": metrics, "failures": failures,
            "span_self_time": self_time,
        }
        out_dir = os.path.join(BENCH, ".out", f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "artifact.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    wanted, values = (PER_LAYER, layers) if a.trace else (END_TO_END, e2e)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
