#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), generates the
fixtures with graft.ScaleData on first use, runs the workload in one JVM
(perfbench.Main), checks its outputs against the committed fingerprints and
prints, as the last stdout line, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Everything it writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
HERE = os.path.join(ROOT, "perfbench")
WORK = os.path.join(OUT, "work")
DATA = os.path.join(OUT, "data")
HEAP = "4g"
JVM_TIMEOUT_S = 170

# name -> (scale factor, open vocabulary, tables): the batch fixture and the
# open-vocabulary tables the traced run times the graftx kernels on.
FIXTURES = {
    "sf0.1": (0.1, False, None),
    "open_sf0.25": (0.25, True, "documents,embeddings"),
}
FIXTURE_OF = {"batch_sf0.1": "sf0.1"}

# per-layer metric -> which end-to-end metric it should move, on which
# workload; written into every traced result
LAYER_MAP = {
    "operators": "latency_p50_ms on batch_sf0.1",
    "catalyst": "latency_p50_ms on batch_sf0.1",
    "exec (jobs, stages, tasks, task_overhead_s)":
        "latency_p50_ms on batch_sf0.1",
    "exec (shuffle, spill, core_util, gc_s)": "wall_s on batch_sf0.1",
    "core": "wall_s on batch_sf0.1",
    "graftx": "wall_s on batch_sf0.1 (the dd09 group); "
              "none on rainstorm_stream",
    "streaming (per-batch fixed costs)": "latency_p50_ms on rainstorm_stream",
    "streaming (rows_per_batch, add_batch_s)": "wall_s on rainstorm_stream; "
                                               "none on batch_sf0.1",
}

# engine A/B switches; a run with one set would measure another engine
FORBIDDEN_SWITCHES = ["SPARK_GRAFT_MAT_ON", "SPARK_GRAFT_MAT_OFF",
                      "SPARK_GRAFT_CACHED_AQE", "SPARK_GRAFT_PARALLELISM_FIRST"]

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, args, log_name, timeout=JVM_TIMEOUT_S, extra_env=None):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(WORK, "index")
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env.update(extra_env or {})
    # a fixed heap: heap resizing between passes was a large part of the
    # run-to-run spread
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args
           + ["--work", WORK, "--cores", str(cores())])
    path = os.path.join(OUT, "logs", log_name)
    with open(path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out (see {path})")
    if code != 0:
        with open(path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited {code} (see {path})")


def fixture_stamp(name):
    """Path of the fingerprint written when fixture `name` was generated."""
    return os.path.join(DATA, name + ".json")


def ensure_fixture(cp, name):
    dest = os.path.join(DATA, name)
    if os.path.isdir(dest) and os.path.exists(fixture_stamp(name)):
        return dest
    sf, open_vocab, tables = FIXTURES[name]
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    jvm(cp, ["gen", "--out", tmp, "--stamp", fixture_stamp(name) + ".tmp",
             "--sf", str(sf), "--open", "1" if open_vocab else "0"],
        f"gen-{name}.log", timeout=600,
        extra_env={"SPARK_GRAFT_TABLES": tables} if tables else None)
    os.rename(tmp, dest)
    os.rename(fixture_stamp(name) + ".tmp", fixture_stamp(name))
    return dest


def check_fixture(name, files, expected):
    """The fixture stamp of a run: its files must be those written at
    generation, and their content the committed one. Exits otherwise."""
    with open(fixture_stamp(name)) as fh:
        gen = json.load(fh)
    if files["md5"] != gen["md5"]:
        raise SystemExit(
            f"perfbench: the files of fixture {name} changed after it was "
            f"generated; delete {os.path.join(DATA, name)} to regenerate it")
    got, want = gen["content"]["md5"], expected["fixture"]["content"]["md5"]
    if got != want:
        raise SystemExit(
            f"perfbench: content of fixture {name} differs from the committed "
            f"one ({got} vs {want}); results are not comparable")
    return dict(files, content=gen["content"])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def history_path():
    return os.path.join(OUT, "history.jsonl")


def record_wall(workload, wall):
    with open(history_path(), "a") as fh:
        fh.write(json.dumps({"workload": workload, "wall_s": wall}) + "\n")


def past_walls(workload):
    """Untraced wall_s values of earlier runs in this checkout."""
    if not os.path.exists(history_path()):
        return []
    with open(history_path()) as fh:
        rows = [json.loads(line) for line in fh]
    return [r["wall_s"] for r in rows if r["workload"] == workload]


def judge_batch(raw, expected):
    calls = [c for p in raw["passes"] for c in p["calls"]]
    want = expected["queries"]
    bad = [c["name"] for c in calls
           if not c["ok"] or c["fingerprint"] != want.get(c["name"])]
    lat = [c["total_s"] * 1e3 for c in calls if c["ok"]]
    walls = [p["wall_s"] for p in raw["passes"]]
    # per pass, then the median over passes: one pass the host slowed down
    # moves neither figure
    pass_p50 = [quantile([c["total_s"] * 1e3 for c in p["calls"] if c["ok"]],
                         0.5) for p in raw["passes"]]
    detail = {"calls": len(calls), "mismatched": sorted(set(bad)),
              "pass_wall_s": walls, "pass_latency_p50_ms": pass_p50}
    return (len(calls), len(bad), True, statistics.median(walls),
            statistics.median(pass_p50), lat, detail)


def judge_stream(raw):
    files = raw["files"]
    backlog_files = raw["backlog_rows"] // raw["rows_per_file"]
    drains = len(raw["drain_s"])
    failed = raw["unconsumed_files"]
    if raw["mismatched_keys_open_loop"]:
        failed = files
    if raw["mismatched_keys_drain"]:
        failed += backlog_files * drains
    detail = {k: raw[k] for k in (
        "unconsumed_files", "mismatched_keys_open_loop",
        "mismatched_keys_drain", "gen_late_ms_p99", "backlog_files_max",
        "valid", "max_late_share", "batches", "drain_s")}
    detail["drain_rec_s"] = raw["backlog_rows"] / statistics.median(
        raw["drain_s"])
    lat = raw["latency_ms"]
    return (files + backlog_files * drains, failed, raw["valid"],
            statistics.median(raw["drain_s"]),
            quantile(lat, 0.5) if lat else float("nan"), lat, detail)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    switches = [k for k in FORBIDDEN_SWITCHES if k in os.environ]
    if switches:
        raise SystemExit(f"perfbench: engine A/B switches set: {switches}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    t_build = time.time()
    cp, source_sha = build.build()
    for name in FIXTURES:
        ensure_fixture(cp, name)
    prep_s = time.time() - t_build

    with open(os.path.join(HERE, "expected", "fingerprints.json")) as fh:
        expected_all = json.load(fh)
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cpu0 = cpu_times()
    jvm(cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--data", DATA, "--result", result],
        f"run-{a.workload}-{a.seed}-{a.trace}.log")
    with open(result) as fh:
        raw = json.load(fh)
    cpu1 = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    # (the "steal" column): high values mark runs slowed by the host
    steal = None
    if cpu0 and cpu1 and len(cpu0) > 7:
        d = [y - x for x, y in zip(cpu0, cpu1)]
        steal = d[7] / sum(d) if sum(d) else None

    if a.workload in FIXTURE_OF:
        expected = expected_all[FIXTURE_OF[a.workload]]
        raw["fixture"] = check_fixture(FIXTURE_OF[a.workload], raw["fixture"],
                                       expected)
        attempted, failed, valid, wall, lat_p50, lat, detail = judge_batch(
            raw, expected)
    else:
        attempted, failed, valid, wall, lat_p50, lat, detail = judge_stream(
            raw)

    if a.trace:
        measured = dict(raw["per_layer"], **{
            "jvm.peak_rss_mb": raw["peak_rss_mb"]})
        metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]
                   if m["name"] != "trace.overhead_frac"}
        base = past_walls(a.workload)
        overhead = wall / statistics.median(base) - 1 if base else 0.0
        metrics["trace.overhead_frac"] = {"value": overhead, "unit": "1"}
    else:
        record_wall(a.workload, wall)
        values = {
            "setup_s": statistics.median(raw["setup_rounds_s"]),
            "wall_s": wall,
            "latency_p50_ms": lat_p50,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_commit": git_commit(),
        "source_sha256": source_sha, "build_and_fixtures_s": prep_s,
        "settings": raw["settings"], "fixture": raw.get("fixture"),
        "run_window": raw["run_window"],
        "setup_rounds_s": raw["setup_rounds_s"],
        "peak_rss_mb": raw["peak_rss_mb"], "host_steal_frac": steal,
        "detail": detail,
        "trace_file": raw.get("trace_file", ""),
    }
    if lat:
        # tails are stamped, not gated: across seeds they spread about twice
        # as wide as the median on a 4-core VM
        detail["latency_p75_ms"] = quantile(lat, 0.75)
        detail["latency_p90_ms"] = quantile(lat, 0.9)
        detail["latency_samples"] = len(lat)
    if a.trace:
        stamp["layer_map"] = LAYER_MAP
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results",
                           f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as fh:
        json.dump({"stamp": stamp, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": failed == 0 and valid,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
