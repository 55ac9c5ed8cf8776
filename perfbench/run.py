#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload filter|neardup_hot|neardup_sparse \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

The first run builds the harness and the engine's sources with sbt into
perfbench/target. Each run starts one JVM (Spark local[k], k <= nproc) that
builds the workload's inputs from the seed, times passes for S seconds and
checks every output. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json when --trace 0, its per-layer metrics when --trace 1.
Everything a run writes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "build.stamp"
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "operators_expected.json"
WORKLOADS = ("filter", "neardup_hot", "neardup_sparse")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def sources():
    for d in (ROOT / "src" / "main", HERE / "src"):
        yield from (p for p in d.rglob("*") if p.is_file())
    yield HERE / "build.sbt"


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compiles the harness and the engine when any source is newer than the last build."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark 4 installation")
    if STAMP.exists() and CLASSES.is_dir():
        built = STAMP.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources()):
            return
    log("perfbench: building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                  cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"sbt compile failed with exit code {rc}")
    STAMP.touch()


def java_cmd(args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{CLASSES}{os.pathsep}{pathlib.Path(os.environ['SPARK_HOME']) / 'jars' / '*'}"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.stream.error.file={tmp / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", *args]


def norm(v):
    """Value normalisation of the repository's DuckDB correctness check."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_digest(table, alter_one_row=False):
    """(row count, order-independent hash) of an arrow table."""
    cols = sorted(table.column_names)
    rows = sorted("\x1f".join(norm(r[c]) for c in cols) for r in table.to_pylist())
    if alter_one_row and rows:
        rows[0] += "\x1faltered"
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return len(rows), h.hexdigest()


def check_operators(work, perturb):
    """Compares each written query output with the committed DuckDB values."""
    import pyarrow.parquet as pq
    expected = json.loads(EXPECTED.read_text())["queries"]
    errors = []
    for i, (name, exp) in enumerate(sorted(expected.items())):
        out = work / "operators-out" / name
        if not (out / "_SUCCESS").exists():
            continue  # the harness already counted the failed write
        rows, digest = table_digest(pq.read_table(out), perturb == "row" and i == 0)
        if [rows, digest] != [exp["rows"], exp["hash"]]:
            errors.append(f"{name}: {rows} rows hash {digest[:12]}, "
                          f"expected {exp['rows']} rows hash {exp['hash'][:12]}")
    return errors


def host_sample():
    """(1-minute load average, cumulative CPU ticks, of which stolen)."""
    load = float(pathlib.Path("/proc/loadavg").read_text().split()[0])
    ticks = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return load, sum(ticks), ticks[7] if len(ticks) > 7 else 0


def run_jvm(workload, seed, seconds, trace, tiny=False, perturb="none"):
    """One harness JVM; returns its result record."""
    build()
    before = host_sample()
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--out", str(out), "--work", str(work),
            "--data", str(DATA), "--tiny", "1" if tiny else "0", "--perturb", perturb]
    rc = run_proc(java_cmd(args, work), RUN_TIMEOUT_S, stdout=sys.stderr,
                  stdin=subprocess.DEVNULL)
    if rc != 0 or not out.exists():
        fail(f"harness JVM exited with code {rc}")
    res = json.loads(out.read_text())
    after = host_sample()
    steal = (after[2] - before[2]) / max(1, after[1] - before[1])
    nproc = res["health"]["nproc"]
    res["health"].update({
        "loadavg_1m_before": before[0], "loadavg_1m_after": after[0], "steal_share": steal,
        # back-to-back runs alone leave the load near nproc; far above it,
        # or with the hypervisor taking CPU time, another tenant competes
        "contended": before[0] > 1.5 * nproc or steal > 0.05})
    if (work / "operators-out").is_dir():
        errors = check_operators(work, perturb)
        res["failed"] += len(errors)
        res["errors"] += errors
    shutil.rmtree(work / "tmp", ignore_errors=True)
    return res


def spec():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        fail("BENCHMARK.json is missing")
    return json.loads(path.read_text())


def main():
    # a terminated run still kills its JVM's process group (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the output checks catch perturbed results")
    a = ap.parse_args()
    if not DATA.is_dir() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout")
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    metrics_spec = spec()["per_layer" if a.trace else "end_to_end"]

    started = time.time()
    res = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1)
    values = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in metrics_spec if m["name"] not in values]
    if missing:
        fail(f"harness did not report {missing}")
    for e in res["errors"]:
        log(f"perfbench: FAILED {e}")
    print(f"# {a.workload} seed={a.seed} trace={a.trace} wall={time.time() - started:.1f}s "
          f"setup_reps_s={res['setup_reps_s']} pass_s={res['pass_s']}")
    print("# layers " + json.dumps(res["layers"], sort_keys=True))
    print("# health " + json.dumps(res["health"], sort_keys=True))
    print(f"# failed_frac {res['failed'] / max(1, res['attempted'])}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics_spec},
    }))


def selftest():
    """Tiny runs: clean results must pass, each perturbed result must fail."""
    # a traced neardup_sparse run also checks the operators outputs ("row")
    cases = [("filter", False, "none"), ("filter", False, "count"),
             ("filter", False, "caption"), ("neardup_hot", False, "none"),
             ("neardup_hot", False, "label"), ("neardup_hot", False, "pair"),
             ("neardup_sparse", True, "none"), ("neardup_sparse", False, "label"),
             ("neardup_sparse", True, "row")]
    bad = 0
    for workload, trace, perturb in cases:
        res = run_jvm(workload, 7, 0, trace, tiny=True, perturb=perturb)
        ok = (res["failed"] == 0) == (perturb == "none")
        bad += not ok
        print(f"{'ok ' if ok else 'BAD'} {workload:14s} trace={int(trace)} perturb={perturb:8s} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    print(json.dumps({"selftest": "pass" if bad == 0 else "fail", "bad_cases": bad}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
