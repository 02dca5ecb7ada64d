#!/usr/bin/env python3
"""graftbench: the repository benchmark (see README.md in this directory).

    python3 graftbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Builds the harness together with the checkout's sources (once; rebuilt
when a source changes), runs one fresh JVM over the workload's queries,
checks every result against the recorded fingerprints and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. The run
times as many whole passes as fit in --seconds at the workload's
recorded pass time, so every run of a workload times the same number of
passes. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A full artifact (provenance, every sample, the metrics)
is written under graftbench/runs/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = BENCH / "workloads.json"
EXPECTED = BENCH / "expected_sf0.1.json"
TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "sources.sha256"
RUNS = BENCH / "runs"

HEAP = "3g"
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit; same list as the
# program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "core.session_s": "s", "core.tables_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.route_hit_ratio": "ratio",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_core_ratio": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "scan.input_mb": "MB", "scan.files": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.skew": "ratio",
    "mat.count": "count", "mat.mb": "MB",
    "mem.spill_mb": "MB", "mem.peak_exec_mb": "MB",
    "sink.write_mb": "MB", "sink.records": "count", "sink.tmp_mb": "MB",
    "span.query.self_s": "s", "span.build.self_s": "s",
    "span.plan.self_s": "s", "span.execute.self_s": "s",
    "span.job.self_s": "s", "span.stage.self_s": "s",
    "trace.overhead_s": "s",
}


class BenchError(Exception):
    """A run that cannot produce a result; reported on stderr, exit 1."""


def pass_orders(queries, seed, passes):
    """The order of each pass: a permutation of `queries` drawn from
    `seed`. The seed changes nothing but this order."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def timed_passes(seconds, pass_s, trace):
    """Whole passes that fit in `seconds` at the recorded pass time; a
    traced run needs one untraced and one traced pass at least."""
    return max(2 if trace else 1, int(seconds // pass_s))


def p90_if_supported(values):
    """The 90th percentile of `values`, or None while fewer than ten
    samples lie beyond it (that needs at least 100 samples)."""
    if len(values) < 100:
        return None
    return statistics.quantiles(values, n=10)[-1]


def check_results(checked, expected):
    """Names of the checked queries that threw or whose row count or
    fingerprint differs from the recorded one."""
    return [c["query"] for c in checked
            if c["error"] is not None or expected.get(c["query"])
            != {"rows": c["rows"], "hash": c["hash"]}]


def summarize(harness, expected):
    """The process's result line: failures counted against attempts,
    and the end-to-end metrics over the untraced timed passes."""
    checked, samples = harness["checked"], harness["samples"]
    mismatched = check_results(checked, expected)
    ran = harness["warm"] + samples
    failed = len(mismatched) + sum(1 for s in ran if s["error"] is not None)
    attempted = len(checked) + len(ran)
    secs = [s["secs"] for s in samples if s["error"] is None]
    walls = [p["wall_s"] for p in harness["passes"] if not p["traced"]]
    metrics = {
        "setup_s": harness["setup"]["setup_s"],
        "wall_s": statistics.median(walls) if walls else None,
        "query_p50_s": statistics.median(secs) if secs else None,
        "peak_rss_mb": harness["peak_rss_mb"],
    }
    return {
        "correct": failed == 0 and all(v is not None for v in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        "mismatched": mismatched,
        "sample_count": len(secs),
        "query_p90_s": p90_if_supported(secs),
        "metrics": metrics,
    }


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return home


def source_hash():
    h = hashlib.sha256()
    trees = [ROOT / "src" / "main", BENCH / "src", BENCH / "project"]
    files = [BENCH / "build.sbt"]
    for t in trees:
        files += [p for p in t.rglob("*") if p.is_file() and "target" not in p.parts]
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the harness and the program's sources unless the stamp
    says the current sources are already built."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    digest = source_hash()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return digest
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0 or not CLASSPATH.is_file():
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("build failed")
    STAMP.write_text(digest)
    return digest


def read_text(path):
    try:
        return Path(path).read_text()
    except OSError:
        return ""


def host_state():
    """Load average and cumulative CPU steal (jiffies): diagnostics of
    what else ran on the host, not metrics."""
    load = read_text("/proc/loadavg").split()[:3]
    cpu = read_text("/proc/stat").splitlines()
    fields = cpu[0].split() if cpu else []
    return {"loadavg": [float(x) for x in load],
            "steal_jiffies": int(fields[8]) if len(fields) > 8 else None}


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run_jvm(cmd, env, cwd, log, timeout):
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"the JVM did not finish within {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get(
        "GRAFT_BENCH_DATA", str(Path.home() / "testdata" / "sf0.1")),
        help="the sf0.1 parquet directory")
    ap.add_argument("--queries", help="comma-separated queries replacing the "
                    "workload's list (development and tests)")
    ap.add_argument("--record", action="store_true",
                    help="record the check pass's fingerprints as the expected ones")
    args = ap.parse_args(argv)
    try:
        return run(args)
    except BenchError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 1


def run(args):
    workloads = json.loads(WORKLOADS.read_text())
    if args.workload not in workloads:
        raise BenchError(f"unknown workload '{args.workload}'")
    wl = workloads[args.workload]
    queries = args.queries.split(",") if args.queries else wl["queries"]
    data = Path(args.data)
    missing = [t for t in ("events", "documents", "lineitem")
               if not (data / f"{t}.parquet").exists()]
    if missing:
        raise BenchError(f"no sf0.1 data at {data} (missing {', '.join(missing)})")
    digest = build()
    started = time.monotonic()

    run_dir = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    passes_file = run_dir / "passes.txt"
    orders = pass_orders(queries, args.seed,
                         2 + timed_passes(args.seconds, wl["pass_s"], args.trace))
    passes_file.write_text("\n".join(",".join(o) for o in orders) + "\n")
    cpus = len(os.sched_getaffinity(0))
    jvm_flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        jvm_flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out, spans = run_dir / "harness.json", run_dir / "spans.json"
    cmd = [java, *jvm_flags, "-cp", CLASSPATH.read_text().strip(),
           "graft.bench.Harness", "--sf", str(data), "--passes", str(passes_file),
           "--trace", str(args.trace),
           "--cpus", str(cpus), "--out", str(out)]
    if args.trace:
        cmd += ["--spans", str(spans)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local), SPARK_GRAFT_CPUS=str(cpus))

    before = host_state()
    try:
        code = run_jvm(cmd, env, run_dir, run_dir / "jvm.log",
                       RUN_TIMEOUT_S - (time.monotonic() - started))
        after = host_state()
        if code != 0 or not out.is_file():
            sys.stderr.write(read_text(run_dir / "jvm.log")[-4000:])
            raise BenchError(f"the JVM exited with code {code}")
        harness = json.loads(out.read_text())
    finally:
        # the tmpdir, the Spark local dir and whatever else the JVM left
        # in its working directory; the artifact files stay
        for d in run_dir.iterdir():
            if d.is_dir():
                shutil.rmtree(d, ignore_errors=True)

    if args.record:
        recorded = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() \
            else {"data": data.name, "queries": {}}
        for c in harness["checked"]:
            if c["error"] is not None:
                raise BenchError(f"cannot record '{c['query']}': {c['error']}")
            recorded["queries"][c["query"]] = {"rows": c["rows"], "hash": c["hash"]}
        recorded["queries"] = dict(sorted(recorded["queries"].items()))
        EXPECTED.write_text(json.dumps(recorded, indent=1) + "\n")
    expected = json.loads(EXPECTED.read_text())["queries"] if EXPECTED.is_file() else {}

    result = summarize(harness, expected)
    if args.trace:
        result["metrics"] = {k: harness["layers"].get(k) for k in PER_LAYER}
        units = PER_LAYER
    else:
        units = END_TO_END
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": queries,
        "data": str(data), "git_sha": git_sha(), "source_sha256": digest,
        "nproc": cpus, "jvm_flags": jvm_flags, "heap": HEAP,
        "jvm_args": harness["jvm_args"], "heap_max_mb": harness["heap_max_mb"],
        "spark_version": harness["spark_version"], "spark_conf": harness["spark_conf"],
        "host_before": before, "host_after": after,
        "setup": harness["setup"], "passes": harness["passes"],
        "checked": harness["checked"], "warm": harness["warm"],
        "samples": harness["samples"],
        **{k: result[k] for k in ("attempted", "failed", "mismatched", "sample_count",
                                  "query_p90_s")},
        "metrics": result["metrics"],
    }
    (run_dir / "artifact.json").write_text(json.dumps(artifact, indent=1) + "\n")
    for name, value in result["metrics"].items():
        print(f"{args.workload} {name} = {value} {units[name]}", file=sys.stderr)
    print(f"graftbench: {result['failed']} failed of {result['attempted']} attempted; "
          f"artifact {run_dir / 'artifact.json'}", file=sys.stderr)
    missing = [k for k, v in result["metrics"].items() if v is None]
    if missing:
        raise BenchError(f"no value for {', '.join(missing)}")
    line = {
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result["metrics"].items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
