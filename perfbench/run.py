#!/usr/bin/env python3
"""Runs the graft benchmark: one workload, or all of them.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. It builds the benchmark (and
graft with it) with sbt when the sources changed since the last build,
measures the host, runs the workload in one JVM, prints every metric by
name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. It exits non-zero when the build fails, a run fails, or an
output check fails. Everything it writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def workloads():
    """The workload names, as BENCHMARK.json lists them."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return [w["name"] for w in json.load(fh)["workloads"]]
    except (OSError, ValueError, KeyError) as e:
        die(f"cannot read the workloads from BENCHMARK.json: {e}")


def source_files():
    """The files a build depends on: graft's build and main sources, and
    the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    flags = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false", "-Xmx2g"]
    env["SBT_OPTS"] = " ".join(flags)
    return env


def build():
    """Compiles graft and the benchmark unless the last build used the
    same sources; leaves the JVM launch line in .bench_build/launch.txt."""
    for f in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"{f} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building (log in .bench_build/build.log)", file=sys.stderr)
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")


def llc_bytes():
    """Size of the largest CPU cache the kernel lists; 32 MiB if none."""
    sizes = []
    base = "/sys/devices/system/cpu/cpu0/cache"
    for d in (os.listdir(base) if os.path.isdir(base) else []):
        try:
            with open(os.path.join(base, d, "size")) as fh:
                v = fh.read().strip()
        except OSError:
            continue
        mult = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}.get(v[-1:], 1)
        sizes.append(int(v.rstrip("KMG")) * mult)
    return max(sizes) if sizes else 32 << 20


def copy_bandwidth(threads=4, passes=3):
    """STREAM-style copy bandwidth in GB/s on 1 and `threads` threads,
    over two arrays each at least 4x the last-level cache. Returns
    (gbps_1t, gbps_wide, array_bytes, llc)."""
    try:
        import numpy as np
    except ImportError:
        return None
    llc = llc_bytes()
    size = max(4 * llc, 256 << 20)
    size -= size % (threads * 4096)
    src = np.ones(size, dtype=np.uint8)
    dst = np.zeros(size, dtype=np.uint8)
    np.copyto(dst, src)  # fault in every page first

    def best(fn):
        t = float("inf")
        for _ in range(passes):
            t0 = time.perf_counter()
            fn()
            t = min(t, time.perf_counter() - t0)
        return 2 * size / t / 1e9  # bytes read + bytes written

    def wide():
        step = size // threads
        ts = [threading.Thread(target=np.copyto,
                               args=(dst[i * step:(i + 1) * step], src[i * step:(i + 1) * step]))
              for i in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    one = best(lambda: np.copyto(dst, src))
    many = best(wide)
    del src, dst
    return one, many, size, llc


def run_workload(name, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns the result dict, or None
    if the JVM failed."""
    out = os.path.join(BUILD, "run", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tables = os.path.join(out, "inputs", "tables")
    if name == "pipeline_mix":
        pipeline.make_tables(seed, tables)
    # the copy test allocates two arrays of 4x the last-level cache; it
    # runs with traced runs only, whose per-layer metrics report it
    copy = copy_bandwidth() if trace else None
    if copy:
        print(f"host: copy {copy[0]:.2f} GB/s on 1 thread, {copy[1]:.2f} GB/s on 4, "
              f"arrays {copy[2] >> 20} MiB each, last-level cache {copy[3] >> 20} MiB",
              file=sys.stderr)
    with open(os.path.join(BUILD, "launch.txt")) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    cp, opts = lines[0], lines[1:]
    local = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + local,
            "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse")]
           + opts + ["-cp", cp, "perfbench.Main", "--workload", name,
                     "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", "1" if trace else "0", "--out", out])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"perfbench: {name}: JVM exited with {rc}", file=sys.stderr)
        return None
    with open(res_file) as fh:
        res = json.load(fh)
    dirs = res.get("detail", {}).get("check_dirs", [])
    if dirs:
        # outputs the JVM leaves to be checked here: one directory per
        # measured operation, compared with the DuckDB oracle
        bad = [(d, e) for d, e in pipeline.check(
            tables, os.path.join(out, "oracle_sql.json"), dirs) if e]
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad
        res["detail"]["errors"] += [f"{os.path.basename(d)}: {x}"
                                    for d, es in bad for x in es][:20]
    if trace:
        # null, like any value a run could not measure, when numpy is missing
        gb1, gbw = (copy[0], copy[1]) if copy else (None, None)
        res["metrics"]["host.copy_gbps_1t"] = {"value": gb1, "unit": "GB/s"}
        res["metrics"]["host.copy_gbps_wide"] = {"value": gbw, "unit": "GB/s"}
    return res


def report(name, res):
    d = res.get("detail", {})
    samples = [x for x in d.get("total_s_samples", []) if x is not None]
    print(f"== {name} seed {d.get('seed')}: {res['attempted']} operations, "
          f"{res['failed']} failed, fail_ratio {res['failed'] / res['attempted']:.3f}")
    for k, m in res["metrics"].items():
        print(f"{k:32s} {m['value']!s:>24} {m['unit']}")
    if samples:
        # the highest percentile with at least ten samples beyond it
        n = len(samples)
        tail = int(100 * (n - 10) / n) if n >= 20 else 0
        extra = ""
        if tail > 50:
            cut = statistics.quantiles(samples, n=100)[tail - 1]
            extra = f", p{tail} {cut:.4f} s"
        print(f"operation wall: median {statistics.median(samples):.4f} s{extra} (n={n})")
    print(f"setups: {d.get('setups_s')}")
    for e in d.get("errors", []):
        print("check failed: " + e)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests and exit")
    names = workloads()
    ap.add_argument("--workload", choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    if a.selftest:
        py = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", HERE,
                             "-p", "test_*.py"], stdin=subprocess.DEVNULL).returncode
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL).returncode
        sys.exit(py or rc)
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload != "all":
        names = [a.workload]
    ok = True
    last = None
    for n in names:
        res = run_workload(n, a.seed, a.seconds, a.trace == 1)
        if res is None:
            ok = False
            continue
        report(n, res)
        ok = ok and res["correct"] and res["failed"] == 0
        last = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        print(json.dumps(last), flush=True)
    if last is None or not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
