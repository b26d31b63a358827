#!/usr/bin/env python3
"""Benchmark entry point.

    python3 sidebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
driver (sbt, offline) into sidebench/target; later runs start the driver
with plain `java`. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Every run also leaves a
host record, the raw samples and (traced) the spans under
sidebench/out/<workload>-s<seed>-t<trace>/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("firehose_live", "batch_ops")
# Per-layer metrics of layers a workload does not run: they read 0 there
# and are controls (every other per-layer metric must be measured).
CONTROLS = {
    "firehose_live": ("q.",),
    "batch_ops": ("sources.", "generator.", "spark.", "streaming.", "sideline.", "engine.",
                  "drain.", "latency."),
}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 690


def log(msg):
    print(f"[sidebench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- build ---------------------------------------------------------------

def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in fs:
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for p in sorted(sources()):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "build.stamp")
    want = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    log("building (sbt compile)")
    t0 = time.time()
    with open(os.path.join(HERE, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError("build failed, see sidebench/build.log")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


# ---- host record -----------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]), steal


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def heap_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2048, min(4096, int(line.split()[1]) // 1024 // 4))
    except OSError:
        pass
    return 2048


# ---- metrics -----------------------------------------------------------------

def end_to_end(raw):
    s = raw["samples"]
    op_s = stats.op_seconds(s)
    if "units" in s:  # open loop: per segment, due time -> commit
        p50 = stats.median(stats.latencies(s["units"], s["window_ms"]))
        rows_per_s = stats.busy_rate(s["batches"], s["window_ms"])
    else:  # closed loop: the median query's median time; every pass
        # reads the same rows, in the pass time op_s assembles
        p50 = 1000.0 * stats.median([stats.median(v) for v in s["query_s"].values()])
        rows_per_s = s["batches"][0]["rows"] / op_s
    return {
        "setup_s": stats.setup_seconds(raw["setup"]),
        "rows_per_s": rows_per_s,
        "lat_p50_ms": p50,
        "op_s": op_s,
    }


def per_layer(raw):
    s = raw["samples"]
    out = dict(raw["layer"])
    if "units" in s:
        p90 = stats.percentile(stats.latencies(s["units"], s["window_ms"]), 0.9)
        if p90 is not None:
            out["latency.p90_ms"] = p90
    cyc = s.get("cycles", [])
    if cyc:
        out["sideline.start_ms"] = stats.median([c["first_drop_ms"] - c["start_ms"] for c in cyc])
        out["sideline.drain_ms"] = stats.median([c["done_ms"] - c["resolve_ms"] for c in cyc])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("library sources (src/main/scala/graft) not found next to the benchmark")
        return 2
    spec = benchmark_spec()
    try:
        classpath = build()
    except (RuntimeError, subprocess.SubprocessError) as e:
        log(str(e))
        return 3
    # the run limit counts from here: a first run in a fresh checkout
    # also builds, and the build has its own limit
    t_built = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(HERE, "out", tag)
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, min(4, os.cpu_count() or 1))
    heap = heap_mb()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # a fixed heap: a growing one made the first timed passes slower
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "sidebench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", work, "--out", os.path.join(out, "raw.json"),
              "--home", HERE])

    load0, (tot0, steal0) = loadavg(), cpu_times()
    left = max(30, RUN_LIMIT_S - (time.time() - t_built))
    with open(os.path.join(out, "driver.log"), "w") as dlog:
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=dlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=left)
        except subprocess.TimeoutExpired:
            log(f"driver exceeded {left:.0f} s; stopping it")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    load1, (tot1, steal1) = loadavg(), cpu_times()
    shutil.rmtree(work, ignore_errors=True)

    raw_path = os.path.join(out, "raw.json")
    if proc.returncode != 0 or not os.path.exists(raw_path):
        log(f"driver failed (exit {proc.returncode}), see {os.path.relpath(out, ROOT)}/driver.log")
        return 4
    with open(raw_path) as f:
        raw = json.load(f)

    info = raw.get("info", {})
    steal = (steal1 - steal0) / max(1, tot1 - tot0)
    host = {
        "nproc": os.cpu_count(), "local_k": cores, "heap_mb": heap, "seed": a.seed,
        "workload": a.workload, "trace": a.trace, "commit": commit(),
        "loadavg_start": load0, "loadavg_end": load1, "steal_share": steal,
        "foreign_jvms_start": info.get("foreign_jvms_start"),
        "foreign_jvms_end": info.get("foreign_jvms_end"),
        "wall_s": time.time() - t_start,
    }
    host["contended"] = bool((host["foreign_jvms_start"] or 0) > 0
                             or (host["foreign_jvms_end"] or 0) > 0 or steal > 0.05)
    with open(os.path.join(out, "host.json"), "w") as f:
        json.dump(host, f, indent=1)
    if host["contended"]:
        log(f"contended host: {host}")

    correct = all(raw["gates"].values()) and not any(e.startswith("fatal") for e in raw["errors"])
    for e in raw["errors"]:
        log(e)
    try:
        e2e = end_to_end(raw)
    except (KeyError, ValueError) as e:
        log(f"no end-to-end metrics: {e}")
        return 5
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    gap = raw["samples"].get("start_gap_rows")
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(dict(e2e, start_gap_rows=gap), f)
    if gap:
        # the known START defect, visible in every run: rows the program's
        # own log-end snapshot would drop and never replay
        print(f"sideline.start_gap_rows median {stats.median(gap):.0f} per START "
              f"(max {max(gap)}, {len(gap)} cycles)")
    if a.trace:
        layer = per_layer(raw)
        names = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in names if n not in layer
                   and not n.startswith(CONTROLS[a.workload])]
        if missing:
            log(f"per-layer metrics not measured: {missing}")
            return 5
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in names}
        trace = {"self_ms_by_layer": {}, "end_to_end_traced": e2e}
        spans_path = os.path.join(out, "spans.json")
        if os.path.exists(spans_path):
            with open(spans_path) as f:
                trace["self_ms_by_layer"] = stats.self_times(json.load(f))
        untraced = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t0", "result.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            trace["overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump(trace, f, indent=1)
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in
                   [m["name"] for m in spec["end_to_end"]]}
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
