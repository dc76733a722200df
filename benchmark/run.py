#!/usr/bin/env python3
"""Runs one benchmark workload of graft and prints its metrics.

    python3 benchmark/run.py --workload ingest_epochs --seed 1 --seconds 12 --trace 0
    python3 benchmark/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (into `target/` dirs and `.bench_build/`);
later runs reuse the build while the sources are unchanged. Inputs are the
repository's seed-42 test tables, kept under benchmark/data; the seed draws
what the run does with them. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`). The line before it
is the run's report: environment stamp, load average, error rate, tail
percentile and set-up breakdown. See benchmark/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ("ingest_epochs", "query_mix")
# scale factor of the tables each workload reads (benchmark/data/sf<scale>);
# the smoke scale is for --selftest
SCALES = {"ingest_epochs": ("0.1", "0.001"), "query_mix": ("0.01", "0.001")}
JVM_DEADLINE_S = 165
# per-layer metric prefixes each workload measures; the rest read 0 there
MEASURES = {
    "ingest_epochs": ("pipeline.", "sinks.", "serde.", "spark.", "trace."),
    "query_mix": ("queries.", "functions.", "sources.", "streaming.", "spark.", "trace."),
}
# measured metrics that may really read 0; any other measured metric that
# reads 0 was not measured
MAY_BE_ZERO = {"pipeline.empty_epochs", "spark.spill_mb", "spark.gc_s"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_digest():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Compiles engine + benchmark once per source digest; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "verify_local.py"))):
        fail("engine sources not found next to the benchmark "
             "(expected build.sbt, src/main/scala/graft and tools/verify_local.py)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = source_digest()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = os.path.join(bdir, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    log = os.path.join(bdir, "build.log")
    # sbt's own lock and scratch files stay in the build directory too
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.boot.lock=false", f"-Dsbt.ivy.home={bdir}/ivy2", f"-Djava.io.tmpdir={bdir}/tmp",
           f"-Djna.tmpdir={bdir}/tmp", "-J-XX:-UsePerfData",
           "export bench/Runtime/fullClasspath"]
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT, timeout=840,
                           stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if ":" in l and ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (sbt exit {r.returncode}); log at {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1], digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, workload, seed, seconds, trace, work, data, smoke, fault):
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *opens, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={work}",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--data", data, "--work", work, "--out", out,
           "--cores", str(cores), "--smoke", "1" if smoke else "0", "--fault", "1" if fault else "0",
           "--spawn-ms", str(int(time.time() * 1000))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} did not finish within {JVM_DEADLINE_S} s; log at {log}")
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(log).read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{workload} JVM exited with {p.returncode}; log at {log}")
    return json.load(open(out)), cores


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    return json.load(open(path))


def run(workload, seed, seconds, trace, smoke=False, fault=False):
    names = spec()["per_layer" if trace else "end_to_end"]
    bdir = build_dir()
    cp, digest = build(bdir)
    import oracle
    work = os.path.join(bdir, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf = SCALES[workload][1 if smoke else 0]
    data = os.path.join(BENCH, "data", f"sf{sf}")
    load0 = os.getloadavg()[0]
    res, cores = run_jvm(cp, workload, seed, seconds, trace, work, data, smoke, fault)
    load1 = os.getloadavg()[0]

    attempted, failed = res["attempted"], res["failed"]
    correct = bool(res["correct"])
    notes = res.get("notes", {})
    if workload == "query_mix" and "aborted" not in res:
        # oracle gate, outside the timed interval
        queries = json.load(open(os.path.join(work, "results", "oracle_sql.json"))).keys()
        verdicts = oracle.check(data, os.path.join(work, "results"), sorted(queries),
                                os.path.join(bdir, "oracle"))
        bad = {n: v for n, v in verdicts.items() if v}
        attempted += len(verdicts)
        failed += len(bad)
        correct = correct and not bad
        notes["oracle_failures"] = bad
    env = res.get("env", {})
    eff = env.get("effective_cores", -1)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace), "scale_factor": float(sf),
        "env": {**env, "nproc": os.cpu_count(), "affinity_cores": cores,
                "git_commit": git_commit(), "source_digest": digest,
                "loadavg_1m": {"start": load0, "end": load1},
                # our own run adds up to `eff` to the load; more than that is someone else
                "load_suspect": load1 - load0 > max(1, eff)},
        **notes,
        # after the notes: this one counts the oracle gates too
        "error_rate": failed / attempted if attempted else 0.0,
    }
    if "aborted" in res:
        report["aborted"] = res["aborted"]
    # every named metric, in BENCHMARK.json order and units; a metric the
    # workload measures that is absent or reads 0 was not measured
    metrics, unexpected = {}, []
    for m in names:
        got = res["metrics"].get(m["name"])
        value = got["value"] if got else 0.0
        measured = not trace or m["name"].startswith(MEASURES[workload])
        if measured and (got is None or (value == 0 and m["name"] not in MAY_BE_ZERO)):
            unexpected.append(m["name"])
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if unexpected:
        report["not_measured"] = unexpected
        correct = False
    result = {"correct": correct, "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    stem = os.path.join(bdir, "results", f"{workload}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as fh:
        json.dump({"report": report, "result": result}, fh, indent=1)
    if trace and os.path.exists(os.path.join(work, "trace.jsonl")):
        shutil.copy(os.path.join(work, "trace.jsonl"), stem + ".trace.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    return report, result


def selftest():
    """Smoke configuration of every workload at scale 0.001: every metric
    the workload measures is emitted, the seed run is correct, and a planted
    fault (a sink that writes one batch twice) in ingest_epochs trips the
    gate."""
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            rep, res = run(w, 1, 1, trace, smoke=True)
            if rep.get("not_measured"):
                problems.append(f"{w} trace={int(trace)}: not measured {rep['not_measured']}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={int(trace)}: seed run not correct ({res['failed']} failed)")
            print(f"[selftest] {w} trace={int(trace)}: {len(res['metrics'])} metrics, "
                  f"{res['failed']}/{res['attempted']} failed", file=sys.stderr)
        if w == "ingest_epochs":
            rep, res = run(w, 1, 1, False, smoke=True, fault=True)
            if res["correct"] or not rep["error_rate"] > 0:
                problems.append(f"{w}: planted duplicate batch was not caught")
            print(f"[selftest] {w} planted fault: error_rate {rep['error_rate']:.3f}", file=sys.stderr)
    for p in problems:
        print(f"[selftest] FAIL {p}", file=sys.stderr)
    print(json.dumps({"selftest": "pass" if not problems else "fail", "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    report, result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"report": report}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
