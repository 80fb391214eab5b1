#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into $CARGO_TARGET_DIR (default
.bench_build) and generates the input tables there; later runs reuse both
while their sources are unchanged. Each run is one fresh JVM. The last line
of standard output is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric when --trace 0 and every per-layer metric when
--trace 1. The line before it records the host fingerprint (CPU calibration
kernel at start and end, nproc, steal %, load average, seed) and the run's
detail. `--workload all` runs every benchmarked workload in turn and prints
both lines for each. Other modes, for maintaining the benchmark:

    --record-digests   run graph_loops once and rewrite
                       reference_digests.json from its results
    --dump-tables DIR  write the generated input tables to DIR (for the
                       DuckDB oracle cross-check, see README.md)
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from benchlib import datagen, metrics  # noqa: E402

ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
HARNESS = HERE / "jvm"
REFERENCE = HERE / "reference_digests.json"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
# A fixed heap keeps GC sizing the same from run to run. A run lasts a
# minute, in which a fresh JVM at default thresholds is still compiling
# Spark's driver code pass after pass; compiling at a tenth of the default
# invocation counts brings each run closer to the state of a long-lived
# driver and makes runs agree more closely.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:CompileThresholdScaling=0.1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d).resolve()


def source_stamp():
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    files = sorted(p for base in (ENGINE_SOURCES, HARNESS) for p in base.rglob("*")
                   if p.is_file() and not {"target", ".bsp"} & set(p.relative_to(base).parts))
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built(out):
    stamp, cp_file = out / "build.stamp", out / "classpath.txt"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dperfbench.target={out / 'jvm'}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def ensure_data(out):
    tables = out / "data" / f"v{datagen.VERSION}"
    done = tables / "_done"
    if not done.exists():
        log("generating input tables")
        datagen.generate(str(tables))
        done.write_text("ok")
    return tables


def run_jvm(classpath, out, args):
    work = out / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw = work / "record.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + [
              f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", str(ensure_data(out)), "--work", str(work), "--out", str(raw)])
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=RUN_TIMEOUT_S)
        if proc.returncode != 0 or not raw.exists():
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
        return json.loads(raw.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def load_reference():
    if not REFERENCE.exists():
        return {}
    ref = json.loads(REFERENCE.read_text())
    if ref.get("data_version") != datagen.VERSION:
        log("reference digests were recorded for other input tables")
        return {}
    return ref["queries"]


def record_digests(classpath, out):
    digests = {}
    args = argparse.Namespace(workload="graph_loops", seed=1, seconds=0, trace=0)
    rec = run_jvm(classpath, out, args)
    for op in rec["ops"]:
        got = [op["rows"], op["hash"]]
        if op["error"]:
            raise SystemExit(f"{op['name']} failed: {op['error']}")
        if digests.setdefault(op["name"], got) != got:
            raise SystemExit(f"{op['name']} is not deterministic: {digests[op['name']]} vs {got}")
    REFERENCE.write_text(json.dumps(
        {"data_version": datagen.VERSION, "queries": dict(sorted(digests.items()))},
        indent=1) + "\n")
    log(f"recorded {len(digests)} reference digests")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=metrics.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--dump-tables", metavar="DIR")
    args = ap.parse_args()
    if args.dump_tables:
        datagen.generate(args.dump_tables)
        return
    if not (ENGINE_SOURCES / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE_SOURCES}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME must point at the Spark installation")
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    classpath = ensure_built(out)
    if args.record_digests:
        record_digests(classpath, out)
        return
    if args.workload is None:
        ap.error("--workload is required")

    if args.workload == "all":
        for workload in metrics.WORKLOADS:
            args.workload = workload
            fingerprint, result = measure(classpath, out, args)
            print(json.dumps(fingerprint))
            print(json.dumps({"workload": workload, **result}))
        return
    fingerprint, result = measure(classpath, out, args)
    print(json.dumps(fingerprint))
    print(json.dumps(result))


def measure(classpath, out, args):
    """One run: (fingerprint-and-detail line, result line)."""
    record = run_jvm(classpath, out, args)
    failures = metrics.check(record, load_reference())
    for f in failures:
        log(f"FAILED {f}")
    if args.trace:
        values, detail = metrics.per_layer(record)
    else:
        values, detail = metrics.end_to_end(record)
    attempted = len(record["ops"])
    detail["ops_failed_frac"] = len(failures) / attempted
    detail["failures"] = failures[:20]
    detail["passes"] = record["passes"]
    fingerprint = {
        "fingerprint": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": record["cpus"], "jvm": record["jvm"],
            "calibration_ms": record["calibration_ms"],
            "steal_pct": record["steal_pct"], "load_average": record["load_average"],
            "measured_s": record["measured_s"]},
        "detail": detail}
    result = {
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    return fingerprint, result

if __name__ == "__main__":
    main()
