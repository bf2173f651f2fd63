#!/usr/bin/env python3
"""The benchmark of record for the graft engine.

    python3 perfbench/run.py --workload <producer|corpus-heads>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the harness
(perfbench/build.sbt, which compiles the engine from the checkout's own
sources) and a reference set: every benchmarked query's result, dumped
once and compared with its DuckDB oracle through tools/gate_common.py.
Build outputs live under .bench_build/.

Each run starts one harness JVM, which measures the workload and writes a
raw record; this script checks correctness, derives the metrics and
prints one JSON line as the last line of standard output. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. A readable summary and the run record go to
standard error and .bench_build/records/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = ".bench_build"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
QUERY_WORKLOAD = "corpus-heads"
WORKLOADS = ("producer", QUERY_WORKLOAD)
# The root build turns heap pre-allocation (-Xms=-Xmx, a pinned young
# generation, -XX:+AlwaysPreTouch) on by itself when the host has 1.25
# times the heap free at build time; pinning it on keeps the JVM flags
# from depending on that.
BUILD_ENV = {"SPARK_DRIVER_MEM": HEAP, "SPARK_GRAFT_PREALLOC": "1"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def rmtree(path):
    shutil.rmtree(path, ignore_errors=True)


def source_digest(root):
    """Digest of every file the build reads, to know when to rebuild."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.relpath(os.path.join(dirpath, n), root) for n in names]
    h = hashlib.sha256(json.dumps(BUILD_ENV, sort_keys=True).encode())
    for f in sorted(set(files)):
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jvm_env(work):
    """The engine's defaults, with every scratch directory inside `work`.
    Shuffle scratch is the one departure: the engine puts it on /dev/shm
    when it can, and a run may write only inside its checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["GRAFT_LOCAL_DIR"] = env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def java_command(launch, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file under the system temp directory
    return [java] + launch + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "perfbench.Main"]


def call(cmd, timeout, log_path, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    with open(log_path, "ab") as out:
        try:
            p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                 start_new_session=True, **kw)
        except OSError as e:
            die(f"cannot start {cmd[0]}: {e}")
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def ensure_built(root):
    """Compile the harness and engine once per source state; return the
    JVM launch arguments (engine JVM options, then -cp)."""
    build = os.path.join(root, BUILD)
    os.makedirs(build, exist_ok=True)
    digest = source_digest(root)
    stamp = os.path.join(build, "stamp")
    launch = os.path.join(build, "launch.txt")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        log("building the harness and the engine (sbt) ...")
        env = dict(os.environ, **BUILD_ENV)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        code = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    BUILD_LIMIT_S, os.path.join(build, "build.log"),
                    cwd=os.path.join(root, "perfbench"), env=env)
        if code != 0 or not os.path.exists(launch):
            die(f"build failed (exit {code}); see {BUILD}/build.log")
        log(f"built in {time.time() - t0:.1f} s")
        with open(stamp, "w") as fh:
            fh.write(digest)
        rmtree(os.path.join(build, "reference"))
    return [line for line in open(launch).read().split("\n") if line]


def ensure_reference(root, launch, deadline):
    """Dump every query of the query workload once and compare each dump
    with its DuckDB oracle, using the repository's gate canonical form.
    Queries that match get an expected fingerprint in expected.tsv; the
    rest are listed in oracle.json and every timed op of theirs counts
    failed. Built once per source state."""
    ref = os.path.join(root, BUILD, "reference")
    expected = os.path.join(ref, "expected.tsv")
    if os.path.exists(expected):
        return expected
    rmtree(ref)
    os.makedirs(ref)
    log("building the oracle reference ...")
    work = os.path.join(ref, "work")
    data = os.path.join(HERE, "data")
    code = call(java_command(launch, work) + [
        "--mode", "reference", "--data", data, "--work", work,
        "--dumps", os.path.join(ref, "dumps"), "--out", os.path.join(ref, "ref.json")],
        deadline - time.time(), os.path.join(ref, "jvm.log"),
        env=jvm_env(work), cwd=root)
    if code != 0:
        die(f"reference dump failed (exit {code}); see {ref}/jvm.log")
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    import pandas as pd
    import gate_common
    entries = json.load(open(os.path.join(ref, "ref.json")))
    report, lines, cons = {}, [], {}
    for name, e in sorted(entries.items()):
        if e["error"]:
            report[name] = "error: " + e["error"]
            continue
        if not e["oracle_sql"]:
            report[name] = "no oracle"
            continue
        sf = e["data"]
        if sf not in cons:
            cons[sf] = duckdb.connect()
            gate_common.register_views(cons[sf], os.path.join(data, sf))
        try:
            got = pd.concat([pd.read_parquet(f) for f in
                             sorted(glob.glob(os.path.join(e["dir"], "*.parquet")))],
                            ignore_index=True)
            exp = cons[sf].execute(e["oracle_sql"]).df()
            same = gate_common.frame_hash(got) == gate_common.frame_hash(exp)
        except Exception as ex:  # an oracle that cannot run verifies nothing
            report[name] = f"oracle error: {type(ex).__name__}: {ex}"
            continue
        report[name] = "ok" if same else "mismatch"
        if same:
            lines.append(f"{name}\t{e['rows']}\t{e['hash']}")
    with open(os.path.join(ref, "oracle.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    bad = {k: v for k, v in report.items() if v != "ok"}
    log(f"oracle reference: {len(lines)} ok, {len(bad)} not ok {sorted(bad)}")
    rmtree(os.path.join(ref, "dumps"))
    rmtree(work)
    with open(expected, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return expected


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(raw, verified):
    """End-to-end metrics, plus (attempted, failed, failures, extras)."""
    failures, extras = [], {}
    if raw["workload"] == "producer":
        man = raw["manifest"]
        passes = raw["backfill"]
        live = raw["live"]
        for i, p in enumerate(raw["warmup"] + passes):
            if not p["ok"]:
                failures.append(f"backfill pass {i}: {p['detail']} rejects={p['rejects']}")
        if not live["ok"]:
            failures.append(f"live: {live['detail']} rejects={live['rejects']}")
        lat = live["latencies_ms"]
        attempted = len(passes) + len(lat)
        failed = sum(1 for p in passes if not p["ok"]) + (0 if live["ok"] else len(lat))
        secs = [p["seconds"] for p in passes if p["ok"]]
        m = {"rows_per_s": man["rows"] / stats.median(secs) if secs else None,
             "pass_s": stats.median(secs) if secs else None,
             "query_geomean_s": stats.geomean(secs) if secs else None,
             "latency_p50_ms": stats.median(lat) if live["ok"] else None}
        t = stats.tail(lat) if live["ok"] else None
        extras["live_backlog_files_end"] = live["backlog_files_end"]
    else:
        ops = raw["ops"]
        for name, err in raw["warmup_failed"].items():
            failures.append(f"warm-up {name}: {err}")
        good = []
        for op in ops:
            if not op["ok"]:
                failures.append(f"{op['name']}#{op['id']}: {op['error']}")
            elif op["name"] not in verified:
                failures.append(f"{op['name']}#{op['id']}: result not verified by its oracle")
            else:
                good.append(op)
        attempted, failed = len(ops), len(ops) - len(good)
        times = [op["seconds"] for op in good]
        m = {"rows_per_s": sum(op["rows"] for op in good) / sum(times) if good else None,
             "pass_s": raw["pass_s"],
             "query_geomean_s": stats.geomean(times) if good else None,
             "latency_p50_ms": 1000 * stats.median(times) if good else None}
        t = stats.tail([1000 * x for x in times])
    m["setup_s"] = raw["setup_s"]
    m["peak_mem_mb"] = raw["peak_mem_mb"]
    extras["peak_heap_mb"] = raw["peak_heap_mb"]
    extras["peak_rss_mb"] = raw["peak_rss_mb"]
    extras["failed_ratio"] = failed / attempted if attempted else None
    extras["latency_tail_ms"] = ({"value": t[0], "percentile": t[1], "n": t[2]} if t
                                 else "too few samples for a tail")
    return m, attempted, failed, failures, extras


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/gate_common.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a source checkout of the engine: {need} is missing under {root}")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    # the first run in a checkout builds the harness and the oracle
    # reference of the query workload, so it may take longer
    launch = ensure_built(root)  # a rebuild drops the reference
    ready = os.path.exists(os.path.join(root, BUILD, "reference", "expected.tsv"))
    deadline = t0 + (RUN_LIMIT_S if ready else BUILD_LIMIT_S)
    expected = ensure_reference(root, launch, deadline)
    verified = {line.split("\t")[0] for line in open(expected) if line.strip()}
    if a.workload != QUERY_WORKLOAD:
        expected = ""

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, BUILD, "work", f"{tag}-{os.getpid()}")
    rmtree(work)
    os.makedirs(work)
    records = os.path.join(root, BUILD, "records")
    os.makedirs(records, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    try:
        code = call(java_command(launch, work) + [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data"), "--expected", expected,
            "--work", work, "--out", raw_path],
            deadline - time.time(), os.path.join(records, f"{tag}.log"),
            env=jvm_env(work), cwd=root)
        if code != 0 or not os.path.exists(raw_path):
            die(f"harness JVM failed (exit {code}); see {BUILD}/records/{tag}.log", 1)
        raw = json.load(open(raw_path))
    finally:
        rmtree(work)

    e2e, attempted, failed, failures, extras = end_to_end(raw, verified)
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        layers = raw["layers"]
        # a layer the workload does not exercise measured nothing: zero
        metrics = {x["name"]: float(layers.get(x["name"], 0.0)) for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: e2e[x["name"]] for x in spec["end_to_end"]}
    missing = sorted(k for k, v in metrics.items() if v is None)
    correct = failed == 0 and not failures and not missing
    raw["record"].update({"git_commit": git_commit(root), "source_digest": source_digest(root),
                          "wall_s": time.time() - t0})
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "correct": correct,
              "attempted": attempted, "failed": failed, "failures": failures,
              "end_to_end": e2e, "extras": extras, "metrics": metrics, "raw": raw}
    with open(os.path.join(records, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in failures:
        log(f"FAILED {f}")
    for k, v in sorted(e2e.items()):
        log(f"{k} = {v} {units.get(k, '')}")
    for k, v in sorted(extras.items()):
        log(f"{k} = {v}")
    log(f"record: {BUILD}/records/{tag}.json  steal_cpus={raw['record'].get('steal_cpus')}")
    if missing:
        log(f"no value for {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v if v is not None else 0.0, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
