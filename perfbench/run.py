#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The script

1. builds the program from the checkout's sources together with the
   harness in this directory (sbt, offline; skipped when no source
   changed since the last build);
2. stages the seed's input tables under `.perfbench/data/` (gen.py,
   cached per seed and scale);
3. runs the harness JVM (Harness.scala): set-up with an untimed warm-up
   pass that also dumps each query's output, then timed passes for S
   seconds;
4. checks every query's output against its DuckDB oracle (oracle.py),
   outside the timed region;
5. prints the end-to-end metrics (`--trace 0`) or the per-layer metrics
   from the traced run's spans (`--trace 1`) as the last line of stdout.

Everything it writes stays under `.perfbench/` in the checkout. The JVM
runs in a private mount namespace where `/tmp` is a directory of the run,
when the host allows one, so the program's scratch files stay there too.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
DEADLINE_S = 170  # one run, build excluded
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, to skip a build that is current."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    tmp = os.path.join(WORK, "build", "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "build", "sbt.log")
    code = run_group(private_tmp_prefix(tmp) + [
        "sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
        "export Runtime/fullClasspath"], out, 840, cwd=HERE, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("perfbench: build failed")
    # `export` prints the classpath as one line of absolute paths
    classpath = [ln for ln in lines if ln.startswith("/") and ".jar" in ln][-1]
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_group(cmd, log_path, timeout, **kw):
    """Run cmd in its own process group with stdout and stderr to log_path;
    on timeout kill the whole group. Returns the exit code."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: {cmd[0]} exceeded {timeout:.0f} s")


def private_tmp_prefix(tmp):
    """Command prefix that runs a command with `tmp` mounted over /tmp, or
    [] when the host does not allow a private mount namespace."""
    prefix = ["unshare", "--mount", "--propagation", "private", "--",
              "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp]
    try:
        ok = subprocess.run(prefix + ["true"], capture_output=True, timeout=20).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    if not ok:
        log("no private mount namespace; the program's /tmp scratch goes to /tmp")
    return prefix if ok else []


def run_jvm(classpath, args, out_dir, timeout):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = private_tmp_prefix(tmp) + [
        # a fixed heap and the parallel collector: G1's concurrent threads
        # and heap resizing spread run-to-run times by 15-25% on 4 cores
        "java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
        "-XX:ReservedCodeCacheSize=512m",
        *[a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Harness", *args]
    launched = time.time()
    code = run_group(cmd, os.path.join(out_dir, "jvm.log"), timeout)
    if code != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    return launched


def tail_latency(samples, n_min):
    """Latency at the highest percentile that leaves at least ten samples
    beyond it in a run of `n_min` samples, the fewest a run may take, and
    never below p75, so a run too short for ten samples beyond still
    reports an upper quartile. Fixing the percentile per workload keeps a
    run that fits more passes on a fast host comparable with one that fits
    fewer on a slow host."""
    s = sorted(samples)
    num, den = max((n_min - 10, n_min), (3, 4), key=lambda f: f[0] / f[1])
    rank = -(-num * len(s) // den)  # ceil, in integers
    return s[rank - 1], 100.0 * num / den


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
             "query_tail_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB"}


def end_to_end(res, launched, failed, attempted, n_min):
    execs = [e for e in res["execs"] if not e["traced"]]
    lat = [e["build_s"] + e["action_s"] for e in execs]
    passes = {}
    for e in execs:
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + e["build_s"] + e["action_s"]
    tail, pct = tail_latency(lat, n_min)
    # JVM launch to the first timed query
    setup = res["timed_start_ms"] / 1000.0 - launched
    detail = {"samples": len(lat), "passes": len(passes),
              "tail_percentile": round(pct, 1), "failed_frac": failed / attempted,
              "session_s": round(res["session_ready_ms"] / 1000.0 - launched, 2),
              "warmup_s": round((res["timed_start_ms"] - res["session_ready_ms"]) / 1000.0, 2)}
    values = {
        "setup_s": setup,
        "pass_s": statistics.median(passes.values()),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return {k: (values[k], u) for k, u in E2E_UNITS.items()}, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        raise SystemExit("perfbench: no program sources next to perfbench/; "
                         "run from the root of a full checkout")
    classpath = build()
    started = time.time()
    data = gen.stage(os.path.join(WORK, "data", f"sf{wl['sf']}-seed{a.seed}"),
                     a.seed, wl["sf"])
    out_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    check_dir = os.path.join(out_dir, "check")
    queries = wl["queries"]
    # a traced run needs two untraced and two traced passes
    min_passes = 4 if a.trace else wl["min_passes"]
    args = ["--workload", a.workload, "--data", data, "--queries", ",".join(queries),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_dir,
            "--cores", str(CORES), "--check", check_dir, "--min-passes", str(min_passes)]
    launched = run_jvm(classpath, args, out_dir,
                       max(30.0, DEADLINE_S - (time.time() - started)))
    with open(os.path.join(out_dir, "result.json")) as f:
        res = json.load(f)

    verdict, want_rows = oracle.check(data, check_dir, queries)
    bad = {q for q, why in verdict.items() if why}
    for q in sorted(bad):
        log(f"FAIL {q}: {verdict[q]}")
    for f in res["setup_failures"]:
        log(f"FAIL {f}")
    failed = 0
    for e in res["execs"]:
        if e["error"] or e["query"] in bad or e["rows"] != want_rows.get(e["query"]):
            failed += 1
            if e["error"]:
                log(f"FAIL pass {e['pass']} {e['query']}: {e['error']}")
    attempted = len(res["execs"])
    correct = failed == 0 and not bad and not res["setup_failures"]

    if a.trace:
        metrics, detail = layers.per_layer(os.path.join(out_dir, "spans.jsonl"), res)
    else:
        metrics, detail = end_to_end(res, launched, failed, attempted,
                                     min_passes * len(queries))
    shutil.rmtree(check_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(dict(line, detail=detail, verdict=verdict, rows=want_rows), f, indent=1)
    print("# " + json.dumps({"workload": a.workload, "seed": a.seed, **detail}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
