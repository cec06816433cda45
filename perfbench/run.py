#!/usr/bin/env python3
"""The repository benchmark: the incremental Xetra ETL (batch and stream)
and a cold/warm query mix, timed end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run: build the program and the harness from source (first run only),
generate the inputs from the seed, run the harness JVM (one client, closed
loop, local[4]), check every output outside the timed window, and print a
summary whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of BENCHMARK.json. The exit code is 0 only when the run completed
and every check passed. Everything the run writes stays under
`.bench_build/` in the repository root.
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

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
# the harness JVM is stopped after this many seconds, leaving time for the
# checks within the 180 s a run may take
RUN_LIMIT_S = 160

# workload -> the harness stage it times
WORKLOADS = {"etl": "etl", "query_mix": "mix"}
# The inputs, the same for both workloads: DAYS dates of 24 hourly CSV
# files, from EVENTS_PER_DAY events a day (the rate of the sf0.1 events
# table) with REPLICAS copies of each instrument; the harness backfills all
# dates but the last four, which land one per daily run. The star-schema
# tables of the query mix are at SF.
DAYS, REPLICAS, EVENTS_PER_DAY, SF = 15, 8, 3340, 0.01
# per stage: the samples behind the cold_s and warm_s end-to-end metrics
COLD_WARM = {"etl": ("etl_cold_s", "etl_warm_s"),
             "mix": ("query_mix_cold_s", "query_mix_warm_s")}
# per-stage splits, reported by traced runs
SPLITS = {"backfill_batch_s": "etl.backfill_batch_s",
          "backfill_stream_s": "etl.backfill_stream_s",
          "daily_batch_s": "etl.daily_batch_s",
          "daily_stream_s": "etl.daily_stream_s",
          "query_mix_cold_s": "mix.cold_s", "query_mix_warm_s": "mix.warm_s",
          "query_mix_retained_mb": "mix.retained_mb"}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "export harness/Runtime/fullClasspath"]
    log("building program and harness with sbt ...")
    r = subprocess.run(cmd, cwd=HARNESS, env=env, capture_output=True,
                       text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines()
             if ln.strip() and not ln.startswith("[") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:] + r.stderr[-2000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_harness(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and no JVM perf-data file; Spark's local dir, warehouse
    # and temp files stay in the run directory
    cmd = (["java"] + ADD_OPENS +
           ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Harness"] + args)
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness failed: {rc}")


def declared_metrics(trace):
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def median(xs):
    return statistics.median(xs) if xs else None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("no program source here: run from the repository root")
    stage = WORKLOADS[a.workload]
    units = declared_metrics(a.trace)
    cp = build()
    # the build may take long on the first run; the run limit starts now
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        manifest = gen.generate(a.seed, data, days=DAYS, replicas=REPLICAS, sf=SF,
                                events_per_day=EVENTS_PER_DAY)
        t_gen = time.time()
        out = os.path.join(run_dir, "result.json")
        run_harness(cp, ["--data", data, "--work", os.path.join(run_dir, "work"),
                         "--out", out, "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--stage", stage,
                         "--mix", os.path.join(HERE, "mix.txt")],
                    run_dir, deadline)
        t_harness = time.time()
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            # the spans outlive the run directory
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"))
        fails = list(res["errors"])
        failed = len(fails)
        import duckdb
        con = duckdb.connect()
        checked = []
        if res["iterations"]:
            checks.load_bars(con, os.path.join(data, "xetra"))
            checked += [checks.check_etl(con, res["dates"], it) for it in res["iterations"]]
        if res["mix"]:
            checked.append(checks.check_mix(con, os.path.join(data, "tables"), res["mix"],
                                            res["mix_dump"], res["oracles"]))
        for f in checked:
            fails += f
            failed += 1 if f else 0
        # each checked iteration and the mix check count as one operation
        attempted = res["attempted"] + len(checked)
        cold, warm = COLD_WARM[stage]
        values = {}
        if a.trace:
            for k, vs in res["layers"].items():
                values[k] = median(vs)
            for layer, v in res["layer_self_s"].items():
                values[f"self.{layer}_s"] = v
            for k, name in SPLITS.items():
                vs = res["traced_samples"].get(k)
                if vs:
                    values[name] = median(vs)
            # the untraced samples come from iterations before and after
            # the traced one
            for k, name in ((cold, "cold_s"), (warm, "warm_s")):
                on = median(res["traced_samples"].get(k, []))
                off = median(res["samples"].get(k, []))
                if on is not None and off:
                    values[f"trace.overhead.{name}"] = on / off - 1
        else:
            values["setup_s"] = median(res["setup_s"])
            for k, name in ((cold, "cold_s"), (warm, "warm_s")):
                v = median(res["samples"].get(k, []))
                if v is not None:  # else reported as not measured below
                    values[name] = v
        undeclared = sorted(set(values) - set(units))
        missing = sorted(set(units) - set(values))
        fails += [f"metric {k} was not measured" for k in missing]
        fails += [f"metric {k} is not declared in BENCHMARK.json" for k in undeclared]
        failed += 1 if missing or undeclared else 0
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}
        counts = {k: len(v) for k, v in res["samples"].items()}
        log(f"workload={a.workload} seed={a.seed} loop_s={res['loop_s']:.1f} "
            f"samples={counts} csv_rows={manifest['csv_rows']} "
            f"csv_files={manifest['csv_files']} csv_bytes={manifest['csv_bytes']} "
            f"harness_s={t_harness - t_gen:.1f} checks_s={time.time() - t_harness:.1f} "
            f"wall_s={time.time() - t_start:.1f}")
        for f in fails:
            log("FAILED: " + f)
        print(json.dumps({"correct": not fails, "attempted": attempted,
                          "failed": min(failed, attempted), "metrics": metrics}))
        return 0 if not fails else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
