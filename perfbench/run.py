"""The repository's benchmark: one command runs one named workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark's
JVM side from source (perfbench/build.py, skipped when unchanged),
generates the workload's inputs from the seed (perfbench/gen.py), runs
the workload in one JVM (perfbench/src), checks the outputs against
computations made apart from the program (perfbench/checks.py), and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
same command attaches Spark listeners, tags one job group per operation
and reports the per-layer metrics instead. The line before it is the
run's provenance. Everything is written under .bench_run/ of the
checkout; the last run of each workload is kept in .bench_run/last-<name>.
"""
import time

START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CURATION = ["q173_span_dedup", "q180_dsir_selection", "q174_filtered_recall"]
WORKLOADS = {
    # name: (registry queries, scale factor of the generated tables)
    "curation_batch": (CURATION, 0.02),
    "stream_ingest": (None, None),
}
# op_tail_s: nearest-rank percentile of the operation latencies of a pass
TAIL_PERCENTILE = 0.75
REFUSED_ENV = ("SPARK_GRAFT_JAVA_OPTS", "SPARK_GRAFT_ONLY")
JVM_HEAP = "3g"
# the JVM may take --seconds plus this for session start, input load,
# warm-up, the overshoot of the last measured pass and the check run
JVM_ALLOWANCE_S = 150
# what spark-submit would add on JDK 17 (the same list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_jvm(workload, data, work, seconds, trace, queries):
    opts = [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    opts += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    args = ["--workload", workload, "--data", data, "--work", work, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    if queries:
        args += ["--queries", ",".join(queries)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(["java", *opts, "-cp", build.classpath(), "perfbench.Main",
                                 *args], stdout=log, stderr=subprocess.STDOUT)
        timeout = seconds + JVM_ALLOWANCE_S
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the JVM did not finish within {timeout:.0f} s")
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the JVM exited with {rc}:\n{tail}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def end_to_end(res, setup_s):
    """Per pass: wall time, CPU time, live heap, and the median and the
    nearest-rank p75 of its operations' latencies; each metric is the
    median of its per-pass values. Taking the percentiles within a pass
    keeps them at a fixed rank of the pass's operation mix, however many
    passes a run completes."""
    passes = res["passes"]
    by_pass = {}
    for o in res["ops"]:
        by_pass.setdefault(o["pass"], []).append(o["s"])

    def m(values, unit):
        return {"value": statistics.median(values), "unit": unit}
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": m([p["wall_s"] for p in passes], "s"),
        "op_p50_s": m([statistics.median(v) for v in by_pass.values()], "s"),
        "op_tail_s": m([percentile(v, TAIL_PERCENTILE) for v in by_pass.values()], "s"),
        "cpu_s": m([p["cpu_s"] for p in passes], "s"),
        "heap_live_mb": m([p["heap_mb"] for p in passes], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    set_env = [v for v in REFUSED_ENV if os.environ.get(v)]
    if set_env:
        print(f"refusing to run with {', '.join(set_env)} set: it changes the measured "
              "configuration without showing in the result", file=sys.stderr)
        return 2
    try:
        t0 = time.time()
        source = build.build()
        build_s = time.time() - t0
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    queries, scale = WORKLOADS[a.workload]
    run_dir = os.path.abspath(f".bench_run/{a.workload}-{os.getpid()}")
    data, work = f"{run_dir}/data", f"{run_dir}/work"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(work)
    try:
        if queries:
            gen.batch_tables(data, a.seed, scale)
        else:
            gen.stream_ticks(f"{data}/stream", a.seed)
        res = run_jvm(a.workload, data, work, a.seconds, a.trace, queries)
        setup_s = res["first_op_ms"] / 1000.0 - START - build_s
        if queries:
            failures = checks.check_batch(data, f"{work}/check", queries)
        else:
            failures = checks.check_stream(f"{data}/stream", res["check"])
        for f in failures:
            print(f"CHECK FAILED {f}", file=sys.stderr)
        if a.trace:
            with open(f"{work}/trace.json") as f:
                trace = json.load(f)
            manifest = None if queries else json.load(open(f"{data}/stream/manifest.json"))
            metrics = layers.per_layer(res, trace, a.workload, CURATION, manifest)
        else:
            metrics = end_to_end(res, setup_s)
        provenance = dict(res["provenance"], commit=commit(), source_sha256=source,
                          nproc=os.cpu_count(), seed=a.seed, workload=a.workload,
                          traced=bool(a.trace), seconds=a.seconds,
                          warmup_s=res["warmup_s"], passes=len(res["passes"]),
                          build_s=build_s, scale=scale,
                          op_tail_percentile=TAIL_PERCENTILE)
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        keep = os.path.abspath(f".bench_run/last-{a.workload}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for name in ("result.json", "trace.json", "jvm.log"):
            if os.path.exists(f"{work}/{name}"):
                shutil.copy(f"{work}/{name}", keep)
        out = {"correct": not failures, "attempted": attempted, "failed": failed,
               "metrics": metrics}
        with open(f"{keep}/metrics.json", "w") as f:
            json.dump({"provenance": provenance, "check_failures": failures, **out}, f,
                      indent=1)
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
