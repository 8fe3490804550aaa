#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_etl --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness (perfbench/build.sbt) into .bench_build/; every run then
generates its inputs from --seed (gen.py), times the set-up of the
benchmark session, runs the workload's ops in a closed loop for
--seconds, checks every op's output fingerprint, and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. It exits non-zero if any op failed or mismatched.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# the first two are the timed workloads in BENCHMARK.json; the others are
# the longer forms for runs by hand (see NOTES.md)
WORKLOADS = ("kg_etl", "incremental_writes", "kg_load", "corpus_dedup",
             "incremental_writes_full", "graph_rounds")
# graph size per run; the graph ops get driverRows below the edge count
# so every call runs the distributed per-round loop (the same ratio as
# 150k edges against the 100,000-row default)
GRAPH_EDGES = 6000
GRAPH_DRIVER_ROWS = GRAPH_EDGES * 2 // 3
# the warm window runs whole passes, at least this many, until --seconds
# have gone: one warm pass alone still carries the JIT's warming and
# single ops' jitter
MIN_WARM_PASSES = 2
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.actions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_slot_frac": "frac",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.scan_rows": "count",
    "exec.result_mb": "MB",
    "jvm.gc_count": "count", "jvm.gc_s": "s", "jit.cold_extra_s": "s",
    "construct_s": "s",
    "stream.batches": "count", "stream.batch_p50_ms": "ms", "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "write.files": "count", "write.mb": "MB", "write.commit_ms": "ms",
    "graph.driver_regime_frac": "frac", "graph.jobs_per_op": "count",
    "host.steal_mean_pct": "%", "host.steal_max_pct": "%",
    "tracing.overhead_frac": "frac"}


def bench_heap() -> list:
    """graft.Bench's heap flags: the defaults build.sbt gives its forked JVM."""
    sbt = (ROOT / "build.sbt").read_text()
    flags = []
    for flag, env in (("-Xms", "SPARK_DRIVER_XMS"), ("-Xmx", "SPARK_DRIVER_MEM")):
        m = re.search(r'%s", "(\w+)"' % env, sbt)
        if not m:
            raise SystemExit(f"perfbench: no {env} default in build.sbt")
        flags.append(flag + m.group(1))
    return flags


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def sources_digest() -> str:
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile engine + harness once per source state; return the classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = sources_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building engine and harness (sbt)")
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                "-Xmx2g", f"-Dsbt.global.base={BUILD / 'sbt-global'}",
                "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(sbt_opts)
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed (see .bench_build/build.log)")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


# ------------------------------------------------------------ host steal
class StealSampler:
    """Samples /proc/stat once a second: the share of CPU time the
    hypervisor gave to other guests while this run was going."""

    def __init__(self):
        self.samples, self._stop = [], threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]

    def _loop(self):
        last = self._read()
        while not self._stop.wait(1.0):
            cur = self._read()
            dt = cur[0] - last[0]
            if dt > 0:
                self.samples.append(100.0 * (cur[1] - last[1]) / dt)
            last = cur

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    def summary(self):
        s = self.samples or [0.0]
        return {"mean": statistics.fmean(s), "max": max(s), "n": len(self.samples)}


# --------------------------------------------------------------- the JVM
def jvm(cp: str, work: Path, args: list, log_path: Path, on_ready=None) -> None:
    """Run perfbench.Main to completion; call on_ready() at its ready mark."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", *bench_heap(), *JVM_OPENS, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main", "--work", str(work), *args])
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            for line in p.stdout:
                if line.strip() == "perfbench-ready" and on_ready:
                    on_ready()
            rc = p.wait(timeout=170)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write(log_path.read_text()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")


def timed_jvm(cp, work, args, log_path) -> float:
    t0 = time.monotonic()
    ready = []
    jvm(cp, work, args, log_path, on_ready=lambda: ready.append(time.monotonic() - t0))
    if not ready:
        raise SystemExit("perfbench: JVM never reported ready")
    return ready[0]


# --------------------------------------------------------------- metrics
def tail_quantile(xs):
    """The highest whole percentile with at least 10 samples beyond it."""
    n = len(xs)
    p = max(50, math.floor(100 * (1 - 10 / n))) if n >= 20 else 50
    s = sorted(xs)
    return s[min(n - 1, math.ceil(p / 100 * n) - 1)], p, n


def op_medians(passes):
    by = {}
    for p in passes:
        for o in p["ops"]:
            by.setdefault(o["name"], []).append(o["s"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def end_to_end(rec, setup):
    passes = rec["passes"]
    warm = [p for p in passes[1:] if p["tag"] == "warm"]
    samples = [o["s"] for p in warm for o in p["ops"]]
    tail, pct, n = tail_quantile(samples)
    return {
        "setup_s": setup,
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": tail,
        "peak_rss_mb": rec["peak_rss_mb"],
    }, {"op_tail_pct": pct, "op_samples": n, "first_pass_s": passes[0]["wall_s"],
        "warm_passes": len(warm)}


def per_layer(rec, steal, cores):
    passes = rec["passes"]
    warm = [p for p in passes[1:] if p["tag"] == "warm"]
    traced = [p for p in passes[1:] if p["tag"] == "traced"]
    med = lambda f, ps: statistics.median(f(p) for p in ps)
    layer = lambda k: (lambda p: p["layer"].get(k, 0.0))
    out = {k: med(layer(k), traced) for k in PER_LAYER
           if k.split(".")[0] in ("catalyst", "sched", "exec", "stream", "write")
           and k != "sched.idle_slot_frac"}
    out["sched.idle_slot_frac"] = med(
        lambda p: 1 - p["layer"].get("exec.task_s", 0.0) / (p["wall_s"] * cores), traced)
    out["jvm.gc_count"] = med(lambda p: p["gc_count"], warm)
    out["jvm.gc_s"] = med(lambda p: p["gc_s"], warm)
    pass_s = med(lambda p: p["wall_s"], warm)
    out["jit.cold_extra_s"] = passes[0]["wall_s"] - pass_s
    out["construct_s"] = med(lambda p: sum(o["construct_s"] for o in p["ops"]), warm)
    graph_ops = [o for p in warm + traced for o in p["ops"] if o["graph"]]
    out["graph.driver_regime_frac"] = (
        sum(o["driver_regime"] for o in graph_ops) / len(graph_ops) if graph_ops else 0.0)
    out["graph.jobs_per_op"] = med(layer("graph.jobs_per_op"), traced)
    out["host.steal_mean_pct"] = steal["mean"]
    out["host.steal_max_pct"] = steal["max"]
    out["tracing.overhead_frac"] = med(lambda p: p["wall_s"], traced) / pass_s - 1
    return out


def module_rollup(rec):
    """Warm per-op medians, and their sums by the op's engine module."""
    warm = [p for p in rec["passes"][1:] if p["tag"] == "warm"]
    ops = op_medians(warm)
    module_of = {o["name"]: o["module"] for p in warm for o in p["ops"]}
    mods = {}
    for name, s in ops.items():
        mods[module_of[name]] = mods.get(module_of[name], 0.0) + s
    return ({f"op.{k}_s": v for k, v in ops.items()},
            {f"module.{k}_s": v for k, v in sorted(mods.items())})


def self_times(spans_path: Path, passes: int) -> dict:
    """Per span kind, seconds per traced pass that a span's interval is
    not covered by its children's: op time outside any SQL execution,
    execution time outside jobs, job time outside stages, stage time."""
    spans = json.loads(spans_path.read_text())
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered, cur = 0, a
        for x, y in sorted(kids.get(s["id"], [])):
            x, y = max(x, cur), min(y, b)
            if y > x:
                covered += y - x
                cur = y
        out[s["kind"]] = out.get(s["kind"], 0.0) + (b - a - covered) / 1e3 / passes
    return out


def result_line(rec, setup, steal, cores, trace, attempted, failed) -> str:
    """The last stdout line: end-to-end metrics, or per-layer ones when
    traced, each with its unit."""
    if trace:
        metrics, units = per_layer(rec, steal, cores), PER_LAYER
    else:
        metrics, units = end_to_end(rec, setup)[0], END_TO_END
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}})


# ------------------------------------------------------------ correctness
def check(rec, workload, seed):
    """Every op output in every pass against its reference fingerprint.
    Returns (attempted, failed, problems)."""
    refs = json.loads((HERE / "reference.json").read_text())
    expected = {**refs["fingerprints"], **graph_reference(rec, workload, seed)}
    attempted = failed = 0
    problems = []
    for p in rec["passes"]:
        for o in p["ops"]:
            attempted += 1
            want = expected.get(o["name"])
            if o["error"] or o["fp"] != want:
                failed += 1
                problems.append(f"{p['tag']}:{o['name']}: got {o['fp'] or o['error']}, want {want}")
    return attempted, failed, problems


def graph_cache(workload, seed) -> Path:
    return BUILD / "graph-reference" / f"{workload}-{seed}-{GRAPH_EDGES}.json"


def graph_reference(rec, workload, seed):
    """The seeded-graph ops' reference: the driver-path twin's fingerprints
    for this seed, from this run's twin if it ran (no record yet), else
    from the record of an earlier run of the workload and seed."""
    path = graph_cache(workload, seed)
    if not path.exists():
        fps = {t["name"]: t["fp"] for t in rec["twin"] if not t["error"]}
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(fps, sort_keys=True) + "\n")
        return fps
    return json.loads(path.read_text())


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # maintenance only: store this run's cold-pass fingerprints as the
    # workload's reference, after its outputs passed tools/compare.py
    ap.add_argument("--record-reference", action="store_true")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a source checkout")
    cp = build()
    cores = len(os.sched_getaffinity(0))

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(BUILD / "runs", ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    gen.write(str(data), a.seed, GRAPH_EDGES)

    common = ["--cores", str(cores), "--data", str(data)]
    record = run_dir / "record.json"
    spans = run_dir / "spans.json"
    twin = not graph_cache(a.workload, a.seed).exists()
    with StealSampler() as steal:
        setup = timed_jvm(cp, work, [
            "--mode", "run", *common, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--min-passes", str(MIN_WARM_PASSES),
            "--trace", str(a.trace),
            "--graph-driver-rows", str(GRAPH_DRIVER_ROWS), "--twin", str(int(twin)),
            "--out", str(record), "--spans", str(spans)], run_dir / "run.log")
    rec = json.loads(record.read_text())
    st = steal.summary()

    if a.record_reference:
        ref_path = HERE / "reference.json"
        refs = json.loads(ref_path.read_text())
        seeded = {t["name"] for t in rec["twin"]}
        refs["fingerprints"].update({o["name"]: o["fp"] for o in rec["passes"][0]["ops"]
                                     if not o["error"] and o["name"] not in seeded})
        ref_path.write_text(json.dumps(refs, indent=1, sort_keys=True) + "\n")
    attempted, failed, problems = check(rec, a.workload, a.seed)
    for p in problems[:20]:
        log(f"MISMATCH {p}")
    tail_info = end_to_end(rec, setup)[1]
    print("perfbench-confs " + json.dumps(rec["confs"], sort_keys=True))
    print("perfbench-host " + json.dumps({"steal_mean_pct": st["mean"], "steal_max_pct": st["max"],
                                          "steal_samples": st["n"], **tail_info}))
    if a.trace:
        ops, mods = module_rollup(rec)
        print("perfbench-ops " + json.dumps({**ops, **mods}))
        traced = sum(p["tag"] == "traced" for p in rec["passes"])
        print("perfbench-selftime " + json.dumps(self_times(spans, traced)))
        print(f"perfbench-spans {spans.relative_to(ROOT)}")
    print(result_line(rec, setup, st, cores, a.trace, attempted, failed))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
