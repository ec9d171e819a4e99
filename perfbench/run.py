#!/usr/bin/env python3
"""The repository benchmark: one workload per run, from the checkout root.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (cached under
.bench_build/ by a hash of the sources), makes the workload's inputs from
the seed, runs one JVM at local[nproc] through perfbench.Harness (set-up,
one untimed warm-up pass, then the timed passes), checks the outputs
outside the timed passes, and prints one JSON object as the
last line of stdout. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer metrics of a traced run. The line before it carries the
host and input signature, the error rate and the tail percentile; the full
record, with every sample, is written to .bench_build/results/. Workloads
and metrics are described in README.md.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
# A fixed heap and young generation: G1's adaptive sizing otherwise makes
# the touched heap, and so VmHWM, differ by ~50% between identical runs.
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
SETUP_REPS = 3
# The first pass of a run compiles most of the workload's code (its CPU
# time is 2-3x a warm pass's and swings by a third between runs); it runs
# untimed, and every metric comes from the passes after it.
WARMUP_PASSES = 1
JVM_TIMEOUT_S = 130
CHECK_TIMEOUT_S = 40
WARM_CITIES = 5
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def source_hash():
    """Hash of everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return digest(files)


def bench_hash():
    """Hash of the benchmark's own definition: runs are comparable only
    under the same one."""
    return digest([HERE / "run.py", HERE / "workloads.json"]
                  + sorted(p for p in (HERE / "src").rglob("*") if p.is_file()))


def build(src_hash):
    """Compile engine + harness once per source hash; returns the classpath."""
    cp_file = BUILD / f"classpath-{src_hash}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", "") + \
        " -Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed, see {log}")
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


def file_sig(path):
    st = path.stat()
    return {"bytes": st.st_size, "mtime": st.st_mtime,
            "sha256": hashlib.sha256(path.read_bytes()).hexdigest()[:16]}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

WMO_CODES = np.array([0, 1, 2, 3, 45, 48, 51, 53, 55, 61, 63, 65, 71, 73, 75, 80, 81, 82,
                      95, 96, 99], dtype=float)


def weather_days(seed, loads):
    """Consecutive load days from the 10th of a seed-chosen month of 2024, so
    every extract's 16 days stay inside that month (up to 5 loads) and every
    seed's monthly rollup has one row per city."""
    start = dt.date(2024, seed % 12 + 1, 10)
    return [str(start + dt.timedelta(days=i)) for i in range(loads)]


def write_extract(path, ds, cities, rng):
    """One raw extract in the reference's shape, byte for byte what
    json.dump(records, f, indent=2) writes: a JSON array, one record per
    city with 16 days of parallel daily arrays starting at ds. About 2% of
    precipitation values are null. Formatted from numpy columns, which is
    several times faster than json.dump over dicts."""
    d0 = dt.date.fromisoformat(ds)
    days = ",\n".join(f'        "{d0 + dt.timedelta(days=i)}"' for i in range(16))
    shape = (cities, 16)
    tmax = np.round(rng.uniform(-10, 40, shape), 1)
    daily = {
        "temperature_2m_max": tmax.astype(str),
        "temperature_2m_min": np.round(tmax - rng.uniform(2, 15, shape), 1).astype(str),
        "precipitation_sum": np.where(
            rng.random(shape) < 0.02, "null",
            np.round(rng.uniform(0, 30, shape) * (rng.random(shape) < 0.6), 2).astype(str)),
        "windspeed_10m_max": np.round(rng.uniform(0, 60, shape), 1).astype(str),
        "weathercode": WMO_CODES[rng.integers(0, len(WMO_CODES), shape)].astype(str),
    }
    lat = np.round(rng.uniform(-60, 70, cities), 4).astype(str)
    lon = np.round(rng.uniform(-180, 180, cities), 4).astype(str)
    recs = []
    for c in range(cities):
        arrays = "".join(f',\n      "{k}": [\n' + ",\n".join("        " + x for x in v[c])
                         + "\n      ]" for k, v in daily.items())
        recs.append(f'  {{\n    "city": "City {c:05d}",\n    "latitude": {lat[c]},\n'
                    f'    "longitude": {lon[c]},\n    "timezone": "UTC",\n'
                    f'    "extracted_at": "{ds}T06:00:00",\n    "daily": {{\n'
                    f'      "time": [\n{days}\n      ]{arrays}\n    }}\n  }}')
    path.write_text("[\n" + ",\n".join(recs) + "\n]")


def weather_inputs(seed, spec):
    """Extracts for the seed's consecutive days, plus a small warm-up
    extract for the day before, written fresh for every run."""
    days = weather_days(seed, spec["loads"])
    raw = BUILD / "inputs" / "weather"
    shutil.rmtree(raw, ignore_errors=True)
    (raw / "warm").mkdir(parents=True)
    rng = np.random.default_rng(seed)
    for ds in days:
        write_extract(raw / f"{ds}.json", ds, spec["cities"], rng)
    write_extract(raw / "warm" / "warm.json", warm_ds(days), WARM_CITIES, rng)
    return raw, days


def warm_ds(days):
    return str(dt.date.fromisoformat(days[0]) - dt.timedelta(days=1))


# ---------------------------------------------------------------- checks

def check_queries(fixture, verify_out, names):
    """graft.Verify's dump of `names` against the DuckDB oracle, through
    tools/check_oracle.py; returns the names that did not pass."""
    try:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                            str(fixture), str(verify_out)],
                           cwd=BUILD, capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"oracle check exceeded {CHECK_TIMEOUT_S}s")
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    return sorted(set(names) - passed)


def check_weather(raw, days, warehouse, cities):
    """Fact rows == cities x loads, unique (city, date) keys, and the monthly
    rollup equal to a DuckDB recomputation from the last extract. Returns
    the names of the checks that failed."""
    import duckdb
    con = duckdb.connect()
    fact = f"read_parquet('{warehouse}/fact_daily_weather/**/*.parquet', hive_partitioning=true)"
    n, keys = con.execute(
        f"SELECT count(*), count(DISTINCT (city_name, date)) FROM {fact}").fetchone()
    bad = []
    if n != cities * len(days):
        bad.append(f"fact_rows {n} != {cities * len(days)}")
    if keys != n:
        bad.append(f"fact_keys {keys} distinct of {n}")
    ref = con.execute(f"""
        WITH d AS (
          SELECT city, unnest(daily.time) AS t, unnest(daily.temperature_2m_max) AS tmax,
                 unnest(daily.temperature_2m_min) AS tmin,
                 unnest(daily.precipitation_sum) AS p, unnest(daily.windspeed_10m_max) AS w,
                 unnest(daily.weathercode) AS c
          FROM read_json('{raw}/{days[-1]}.json', format='array'))
        SELECT city, year(CAST(t AS DATE)) y, month(CAST(t AS DATE)) m,
               avg(tmax), avg(tmin), sum(coalesce(p, 0.0)),
               count(*) FILTER (WHERE c >= 50 AND c < 70), max(w)
        FROM d GROUP BY ALL ORDER BY ALL""").fetchall()
    got = con.execute(f"""
        SELECT city_name, year, month, avg_temp_max, avg_temp_min, total_precipitation,
               rainy_days, max_wind_speed
        FROM read_parquet('{warehouse}/agg_monthly_weather/*.parquet') ORDER BY ALL""").fetchall()
    # Spark rounds the averages to 1 decimal and the sum to 2: a correct
    # value lies within half a unit of the unrounded recomputation
    tol = (0.05, 0.05, 0.005)
    ok = len(ref) == len(got) and all(
        r[:3] == g[:3] and r[6:] == g[6:] and
        all(abs(a - b) <= t + 1e-9 for a, b, t in zip(r[3:6], g[3:6], tol))
        for r, g in zip(ref, got))
    if not ok:
        bad.append(f"monthly_rollup ({len(got)} rows vs {len(ref)} recomputed)")
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples); below 11 samples, the maximum."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0, 0
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[k], round(100.0 * (k + 1) / len(s), 1), len(s)


def timed(res):
    """The harness result without the warm-up passes."""
    def kept(rows):
        return [r for r in rows if r["pass"] >= WARMUP_PASSES]
    out = dict(res, ops=kept(res["ops"]),
               **{k: res[k][WARMUP_PASSES:] for k in ("pass_wall_s", "pass_cpu_s")})
    if "spans" in res:
        warm = tuple(f"{p}:" for p in range(WARMUP_PASSES))
        out.update(spans=kept(res["spans"]), ckpt=kept(res["ckpt"]),
                   counters={d: c for d, c in res["counters"].items()
                             if not d.startswith(warm)})
    return out


def end_to_end(res, ops_ok):
    secs = [o["secs"] for o in res["ops"] if o["op"] in ops_ok]
    value, pct, n = tail(secs)
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "wall_s": (median(res["pass_wall_s"]), "s"),
        "op_p50_s": (median(secs), "s"),
        "cpu_s": (median(res["pass_cpu_s"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }
    # with 7-23 ops a run the tail percentile is the median or the maximum,
    # so it is reported beside the metrics, with its percentile and count
    return m, {"op_tail_s": value, "op_tail_percentile": pct, "op_samples": n}


def per_layer(res, cpus, raw_bytes):
    passes = len(res["pass_wall_s"])
    spans, counters = res["spans"], res["counters"]

    def span_s(layers, ops=None):
        return sum(s["secs"] for s in spans if s["layer"] in layers
                   and (ops is None or s["op"] in ops)) / passes

    def count(key, layers=None):
        descs = {s["desc"] for s in spans if layers is None or s["layer"] in layers}
        return sum(c[key] for d, c in counters.items()
                   if layers is None or d in descs) / passes

    mib = 1048576.0
    wall = median(res["pass_wall_s"])
    build_s, exec_s = span_s({"build"}), span_s({"exec"})
    steps = {"read_validate", "stage_write", "aggregate", "seed", "upsert", "quality"}
    views = {"latest_weather", "weekly_trends"}
    ckpt = res["ckpt"]
    m = {
        "trace.wall_s": (wall, "s"),
        "operators.build_s": (build_s, "s"),
        "operators.build_jobs": (count("jobs", {"build"}), "count"),
        "operators.build_share": (build_s / wall if wall else 0.0, "ratio"),
        "ckpt.published": (sum(c["published"] for c in ckpt) / passes, "count"),
        "ckpt.stored_mb": (sum(c["stored_bytes"] for c in ckpt) / passes / mib, "MiB"),
        "ckpt.leaked": (sum(o["leaked"] for o in res["ops"]) / passes, "count"),
        "plans.plan_s": (span_s({"plan"}), "s"),
        "exec.exec_s": (exec_s, "s"),
        "exec.jobs": (count("jobs", {"exec"}), "count"),
        "exec.stages": (count("stages", {"exec"}), "count"),
        "exec.tasks": (count("tasks", {"exec"}), "count"),
        "exec.tasks_per_job": (count("tasks", {"exec"}) / max(count("jobs", {"exec"}), 1e-9),
                               "ratio"),
        "exec.core_util": (count("run_ms", {"exec"}) / 1e3 / (exec_s * cpus) if exec_s else 0.0,
                           "ratio"),
        "exec.executor_cpu_s": (count("cpu_ns", {"exec"}) / 1e9, "s"),
        "exec.gc_s": (count("gc_ms", {"exec"}) / 1e3, "s"),
        "exec.shuffle_read_mb": (count("shuffle_read", {"exec"}) / mib, "MiB"),
        "exec.shuffle_write_mb": (count("shuffle_write", {"exec"}) / mib, "MiB"),
        "exec.spill_mb": (count("spill", {"exec"}) / mib, "MiB"),
        "exec.tasks_failed": (count("tasks_failed"), "count"),
        "sources.read_validate_s": (span_s({"read_validate"}), "s"),
        "sources.json_tasks": (count("tasks", {"read_validate"}), "count"),
        "etl.stage_write_s": (span_s({"stage_write"}), "s"),
        "etl.aggregate_s": (span_s({"aggregate"}), "s"),
        "etl.seed_s": (span_s({"seed"}), "s"),
        "etl.upsert_s": (span_s({"upsert"}), "s"),
        "etl.quality_s": (span_s({"quality"}), "s"),
        "etl.views_s": (span_s({"build", "plan", "exec"}, views), "s"),
        "etl.jobs": (count("jobs", steps), "count"),
        "etl.bytes_written_mb": (count("bytes_written", steps) / mib, "MiB"),
        "etl.fact_files": (float(res.get("fact_files", 0)), "count"),
        "etl.write_amplification": (count("bytes_written", steps) / raw_bytes
                                    if raw_bytes else 0.0, "ratio"),
    }
    return m


# ---------------------------------------------------------------- main

def main():
    # a terminated run unwinds, so subprocess.run kills and reaps its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; have {', '.join(WORKLOADS)}")
    spec = WORKLOADS[a.workload]
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources in {ROOT}: run from a full checkout")

    src = source_hash()
    cp = build(src)
    cpus = os.cpu_count() or 1
    # whole timed passes that fill --seconds at the workload's nominal
    # (warm) pass time, after the warm-up
    passes = max(1, round(a.seconds / spec["nominal_pass_s"]))
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "local").mkdir(parents=True)
    (work / "tmp").mkdir()
    out = work / "result.json"
    args = ["--workload", a.workload, "--trace", str(a.trace), "--cpus", str(cpus),
            "--setup-reps", str(SETUP_REPS), "--passes", str(WARMUP_PASSES + passes),
            "--out", str(out)]

    t_inputs = time.time()
    sig_inputs = {}
    raw_bytes = 0
    if a.workload == "weather_etl":
        raw, days = weather_inputs(a.seed, spec)
        raw_bytes = sum((raw / f"{ds}.json").stat().st_size for ds in days)
        sig_inputs = {f"{ds}.json": (raw / f"{ds}.json").stat().st_size for ds in days}
        args += ["--raw-dir", str(raw), "--days", ",".join(days),
                 "--warm-raw", str(raw / "warm" / "warm.json"), "--warm-ds", warm_ds(days),
                 "--warm-cities", str(WARM_CITIES), "--warm-warehouse", str(work / "warm"),
                 "--cities", str(spec["cities"]), "--warehouse", str(work / "warehouse")]
        ops = [f"load_{ds}" for ds in days] + ["latest_weather", "weekly_trends"]
        verify = []
    else:
        fixture = HERE / "fixture" / spec["fixture"]
        sig_inputs = {p.name: file_sig(p) for p in sorted(fixture.glob("*.parquet"))}
        ops = list(spec["queries"])
        # the oracle check covers a seeded share of the queries each run
        verify = sorted(random.Random(a.seed).sample(ops, spec["verify_per_run"]))
        args += ["--fixture", str(fixture), "--ops", ",".join(ops),
                 "--verify", ",".join(verify), "--verify-out", str(work / "verify")]

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + HEAP + [f"-Djava.io.tmpdir={work / 'tmp'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work / 'local'}",
              f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
              f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = work / "jvm.log"
    t0 = time.time()
    inputs_s = t0 - t_inputs
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness exceeded {JVM_TIMEOUT_S}s, see {log}")
    if r.returncode != 0 or not out.exists():
        die(f"harness exited {r.returncode}, see {log}")
    res = json.loads(out.read_text())
    jvm_s = time.time() - t0

    t_check = time.time()
    failed_ops = sorted({o["op"] for o in res["ops"] if "error" in o})
    if a.workload == "weather_etl":
        wrong_checks = check_weather(raw, days, work / "warehouse", spec["cities"])
        # a wrong warehouse state is charged to the loads that built it
        wrong_ops = [o for o in ops if o.startswith("load_")] if wrong_checks else []
    else:
        wrong_checks = check_queries(fixture, work / "verify", verify)
        wrong_ops = wrong_checks
    check_s = time.time() - t_check
    bad = set(failed_ops) | set(wrong_ops)
    attempted = len(res["ops"])
    n_bad = sum(1 for o in res["ops"] if o["op"] in bad)
    measured = timed(res)
    e2e, tail_info = end_to_end(measured, set(ops) - set(failed_ops))
    metrics = per_layer(measured, cpus, raw_bytes) if a.trace else e2e

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes": passes, "warmup_passes": WARMUP_PASSES,
        "phase_s": {"inputs": inputs_s, "jvm": jvm_s, "check": check_s},
        "signature": {
            "nproc": cpus, "cpus": res["cpus"], "default_parallelism": res["default_parallelism"],
            "max_heap_mb": res["max_heap_mb"], "spark_version": res["spark_version"],
            "commit": commit(), "source_hash": src, "bench_hash": bench_hash(),
            "seed": a.seed, "inputs": sig_inputs,
        },
        "error_rate": n_bad / attempted, "failed_ops": failed_ops, "wrong": wrong_checks,
        "verified": verify, **tail_info,
        "samples": {k: res[k] for k in ("setup_s", "pass_wall_s", "pass_cpu_s")},
        "ops": res["ops"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **metrics}.items()},
    }
    (BUILD / "results").mkdir(exist_ok=True)
    (BUILD / "results" / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(
        json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "passes", "error_rate",
                                             "op_tail_s", "op_tail_percentile", "op_samples",
                                             "signature")}))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": n_bad,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
