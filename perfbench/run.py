#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --rate FILES_PER_S
        --workload {wordcount,query_mix,event_stream} --seed N --seconds S
        --trace {0,1} [--queries NAME,...]

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt, sbt offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed into
perfbench/.work. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The line
before it holds the host context and the workload's own figures.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("wordcount", "query_mix", "event_stream")
WC_WORDS = 8_000_000
QM_SF = 0.001
ES_BASE_EVENTS, ES_REPLICAS, ES_FILES = 10_000, 4, 16
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- host

def read(path, default=""):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return default


def steal_s():
    fields = read("/proc/stat", "cpu 0").split("\n")[0].split()
    return int(fields[8]) / 100.0 if len(fields) > 8 else -1.0


def loadavg():
    return float(read("/proc/loadavg", "-1").split()[0])


def mem_total_kb():
    for line in read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def heap():
    """-Xmx from MemTotal the way the Tier-1 command sizes it: half of
    RAM in GiB, clamped to 2..8."""
    g = mem_total_kb() // 2097152
    return f"{min(max(g, 2), 8)}g"


def shm_free_mb():
    try:
        s = os.statvfs("/dev/shm")
        return s.f_bavail * s.f_frsize / 2**20
    except OSError:
        return -1.0


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# --------------------------------------------------------------- build

def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            for n in sorted(names):
                yield os.path.join(d, n)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt unless the classpath is fresh for these sources.
    Returns (classpath, source hash)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from the repository root", 2)
    digest = source_hash()
    target = os.path.join(HERE, "target")
    cp_file, stamp = os.path.join(target, "bench.classpath"), os.path.join(target, "bench.stamp")
    if read(stamp) != digest or not os.path.exists(cp_file):
        log("building program and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                       + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail(f"build failed (sbt exit {r.returncode})", 3)
        with open(stamp, "w") as f:
            f.write(digest)
    return read(cp_file).strip(), digest


# -------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate this seed's inputs into WORK/<workload>/ (reused when
    the seed repeats) and return the directory."""
    short = {"wordcount": "wc", "query_mix": "qm", "event_stream": "es"}[workload]
    d = os.path.join(WORK, short)
    marker = os.path.join(d, "seed")
    if read(marker) == str(seed):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "wordcount":
        gen.corpus(f"{d}/corpus.txt", f"{d}/expected.txt", seed, WC_WORDS)
    elif workload == "query_mix":
        gen.tables(f"{d}/tables", seed, QM_SF)
    else:
        rows = gen.stream_events(f"{d}/events.parquet", seed, ES_BASE_EVENTS, ES_REPLICAS,
                                 ES_FILES)
        with open(f"{d}/rows.txt", "w") as f:
            f.write("".join(f"{n}\n" for n in rows))
    with open(marker, "w") as f:
        f.write(str(seed))
    return d


def clean_outputs(d):
    for sub in ("out", "ckpt", "open", "pending"):
        shutil.rmtree(os.path.join(d, sub), ignore_errors=True)


# ---------------------------------------------------------------- run

def run_jvm(args, cp):
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    for sub in ("tmp", "spark-local", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+ExplicitGCInvokesConcurrent",
           f"-Djava.io.tmpdir={WORK}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--out", out, "--rate", str(args.rate)]
    if args.queries:
        cmd += ["--queries", args.queries]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "spark-local"))
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out", 4)
    if code != 0 or not os.path.exists(out):
        log(read(os.path.join(WORK, "jvm.log"))[-4000:])
        fail(f"benchmark JVM failed (exit {code})", 5)
    with open(out) as f:
        return json.load(f)


def pct(values, q):
    """Percentile with linear interpolation between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(round(q * 100)) - 1]


UNITS = (("_rows_s", "rows/s"), ("_pct", "%"), ("_frac", "ratio"), ("_ms", "ms"),
         ("_mb", "MB"), ("_s", "s"), (".reuse", "ratio"))


def unit(name):
    for suffix, u in UNITS:
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, required=True,
                    help="event_stream open-loop offered rate, files per second")
    ap.add_argument("--queries", default="",
                    help="query_mix: comma-separated query names instead of the fixed mix")
    args = ap.parse_args()

    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": os.cpu_count(),
               "mem_total_mb": round(mem_total_kb() / 1024), "shm_free_mb": round(shm_free_mb()),
               "xmx": heap(), "commit": commit()}
    cp, digest = build()
    context["source_sha"] = digest
    load0, steal0 = loadavg(), steal_s()
    t0 = time.time()
    d = inputs(args.workload, args.seed)
    clean_outputs(d)
    context["inputs_s"] = round(time.time() - t0, 3)
    res = run_jvm(args, cp)
    failures = list(res["failures"])
    attempted = res["attempted"]
    if args.workload == "query_mix":
        failures += oracle.compare(f"{d}/tables", f"{d}/out", skip=failures)
    context.update(loadavg_start=load0, loadavg_end=loadavg(),
                   steal_s=round(steal_s() - steal0, 2), session_s=res["session_s"],
                   validate_s=res["validate_s"], cores=res["cores"])

    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "round_s": {"value": statistics.median(res["rounds_wall_s"]), "unit": "s"},
        }
    walls = [w * 1e3 for w in res["ops_wall_s"]]
    detail = dict(res["detail"], failed_frac=len(failures) / max(attempted, 1),
                  peak_rss_mb=res["peak_rss_mb"], ops=len(walls),
                  rounds=len(res["rounds_wall_s"]),
                  op_p50_ms=pct(walls, 0.5), op_p90_ms=pct(walls, 0.9),
                  op_cpu_ms=statistics.median(res["ops_cpu_s"]) * 1e3,
                  round_s=statistics.median(res["rounds_wall_s"]),
                  round_cpu_s=statistics.median(res["rounds_cpu_s"]),
                  round_jit_s=statistics.median(res["rounds_jit_s"]))
    if args.trace:
        detail["op_summary"] = res["op_summary"]
    print(json.dumps({"context": context, "detail": detail, "failures": failures[:20]}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
