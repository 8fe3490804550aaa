#!/usr/bin/env python3
"""Self-test of the benchmark itself, on a tiny input.

    python3 perfbench/selftest/selftest.py

Checks that
  1. fingerprints are order-insensitive and change when one value, one
     map value or one row changes (JVM side, perfbench.SelfTest);
  2. every metric named in BENCHMARK.json is printed, with its unit, by
     the same code path run.py uses (on a synthetic run record);
  3. the benchmark session's confs equal graft.Bench's profile, parsed
     from src/main/scala/graft/Bench.scala and build.sbt.
Exits non-zero on the first failing group, naming each failed check.
"""
import json
import re
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import gen  # noqa: E402
import run  # noqa: E402

CORES = 4


def bench_profile(cores: int) -> dict:
    """Bench.scala's session profile: its .master/.config calls plus the
    -D options and heap sizes the build hands the forked JVM."""
    src = (run.ROOT / "src/main/scala/graft/Bench.scala").read_text()
    want = {}
    for key, lit, var in re.findall(
            r'\.config\(\s*"([^"]+)"\s*,\s*(?:"([^"]*)"|(\w+))\s*\)', src):
        want[key] = lit if lit else {"cpus": str(cores)}[var]
    if 's"local[$cpus]"' in src:
        want["spark.master"] = f"local[{cores}]"
    sbt = (run.ROOT / "build.sbt").read_text()
    for key, val in re.findall(r'"-D(spark\.[\w.]+)=([^"]+)"', sbt):
        want[key] = val
    for key, flag, env in (("jvm.xms", "-Xms", "SPARK_DRIVER_XMS"),
                           ("jvm.xmx", "-Xmx", "SPARK_DRIVER_MEM")):
        m = re.search(r'%s", "(\w+)"' % env, sbt)
        if m:
            want[key] = flag + m.group(1)
    want["fs.file.crc_sidecar_written"] = str(
        "setWriteChecksum(false)" not in src).lower()
    return want


def synthetic_record() -> dict:
    def op(name, s):
        return {"name": name, "s": s, "construct_s": s / 10, "fp": "1:0", "error": "",
                "module": "m", "graph": True, "driver_regime": False}
    layer = {k: 1.0 for k in run.PER_LAYER}
    passes = [{"tag": t, "wall_s": w, "gc_count": 1.0, "gc_s": 0.01, "layer": layer,
               "ops": [op(f"o{i}", w / 25 + i / 1000) for i in range(25)]}
              for t, w in (("cold", 9.0), ("warm", 4.0), ("traced", 4.2), ("warm", 4.1))]
    return {"passes": passes, "peak_rss_mb": 3000.0, "twin": []}


def check_metrics(failures: list) -> None:
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    rec = synthetic_record()
    steal = {"mean": 0.5, "max": 2.0, "n": 10}
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        line = run.result_line(rec, 17.5, steal, CORES, trace, 100, 0)
        out = json.loads(line)["metrics"]
        for m in bench[section]:
            got = out.get(m["name"])
            if got is None:
                failures.append(f"{section}: {m['name']} not printed")
            elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                failures.append(f"{section}: {m['name']} printed as {got}, unit {m['unit']}")
        extra = set(out) - {m["name"] for m in bench[section]}
        if extra:
            failures.append(f"{section}: printed but not in BENCHMARK.json: {sorted(extra)}")


def main() -> int:
    failures = []
    check_metrics(failures)

    cp = run.build()
    tmp = run.BUILD / "selftest"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.write(str(tmp / "data"), 1, 40)
    out = tmp / "selftest.json"
    run.jvm(cp, tmp / "work", ["--mode", "selftest", "--cores", str(CORES),
                               "--data", str(tmp / "data"), "--out", str(out)],
            tmp / "selftest.log")
    res = json.loads(out.read_text())
    for name, ok in res["checks"].items():
        if ok is not True:
            failures.append(f"fingerprint: {name}")
    session = {**res["confs"], **res["resolved"]}
    profile = bench_profile(CORES)
    for key, val in sorted(profile.items()):
        if session.get(key) != val:
            failures.append(f"profile: {key} is {session.get(key)!r}, Bench has {val!r}")

    for f in failures:
        print(f"FAIL {f}")
    print(f"selftest: {'FAILED' if failures else 'ok'} "
          f"({len(res['checks'])} fingerprint checks, {len(profile)} profile keys, "
          f"every metric in BENCHMARK.json)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
