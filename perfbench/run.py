#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded, closed-loop workloads (one
client each) driving the public entry points of graft.workflow, graft.ops
and graft.ops.TableManifest in one fresh JVM at local[<nproc>].

    python3 perfbench/run.py --workload <etl_job|manifest_ingest>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run it from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and writes a fixed synthetic corpus
(perfbench/corpus.py); both land under perfbench/target. Each run writes
only under its own temporary directory there and deletes it at the end;
traced runs also keep their spans under perfbench/target/traces.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (see perfbench/README.md). The line before
it is the full report: every sample count, the workload-specific
metrics, the output checks and the environment.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
sys.path.insert(0, BENCH)
import corpus  # noqa: E402  (perfbench/corpus.py)

WORKLOADS = ("etl_job", "manifest_ingest")

# Per workload: untimed warm-up units after the cold one, and the fewest
# and most warm units a run measures (traced runs measure at least four,
# half of them untraced). etl_job repeats the same job, so it measures
# for --seconds. manifest_ingest's source grows with every cycle, so it
# measures a fixed number of cycles: a faster commit must not buy more,
# and larger, cycles.
SHAPE = {
    "etl_job": dict(warmup=1, min_warm=3, max_warm=10_000),
    "manifest_ingest": dict(warmup=0, min_warm=3, max_warm=3),
}

# manifest_ingest: rows of lineitem published as the source, the commits
# of one cycle (shuffled per cycle) with their batch rows, and the relay
# cadence. Fixed batch sizes keep every cycle the same amount of work; the
# seed picks the order and the keys.
SLICE_ROWS = 10_000
CYCLE = ("append", "upsert", "upsert", "delete")
BATCH_ROWS = {"append": 1_000, "upsert": 500, "delete": 150}
RELAY_EVERY = 4
CYCLES = 5  # the cold cycle and at most four warm ones

# etl_job's output check, fixed for the corpus of corpus.VERSION: rows of
# the q03 extract (Relational.q03FlagshipSql), equal to a DuckDB count of
# the same join over the corpus.
ETL_ROWS = 326_526

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ plan

def make_plan(workload, seed):
    """The seeded operation plan for one run, as the lines Plan.scala
    parses. The same (workload, seed) always gives the same text."""
    rng = random.Random(f"{workload}:{seed}")
    lines = []
    if workload == "etl_job":
        for i in range(400):
            day = 20_000 + rng.randrange(3_000)
            date = time.strftime("%Y-%m-%d", time.gmtime(day * 86_400))
            lines.append(f"job etl-{seed}-{i:03d}-{rng.getrandbits(32):08x} "
                         f"{date}")
    else:
        lines += [f"slice {SLICE_ROWS}", f"relay_every {RELAY_EVERY}"]
        next_id, v = SLICE_ROWS, 1
        for _ in range(CYCLES):
            lines.append("cycle")
            for kind in rng.sample(CYCLE, len(CYCLE)):
                n = BATCH_ROWS[kind]
                if kind == "append":
                    lines.append(f"append {v} {next_id} {n}")
                    next_id += n
                else:
                    ids = sorted(rng.sample(range(next_id), n))
                    lines.append(f"{kind} {v} " + ",".join(map(str, ids)))
                v += 1
    return "\n".join(lines) + "\n"


# ------------------------------------------------------------ statistics

def rank(n, pm):
    """Nearest-rank position (1-based) of the pm-per-mille percentile."""
    return max(1, -(-pm * n // 1000))


def tail_percentile(n):
    """The highest of the usual percentiles (per mille) with at least ten
    of `n` samples beyond it, or None when even the median has fewer."""
    for pm in (999, 990, 950, 900, 750, 500):
        if n - rank(n, pm) >= 10:
            return pm
    return None


def percentile(values, pm):
    return sorted(values)[rank(len(values), pm) - 1]


def latency(values):
    """Median and tail of a latency sample, with the tail's percentile."""
    pm = tail_percentile(len(values))
    return {"n": len(values),
            "p50_s": statistics.median(values) if values else None,
            "tail_pct": pm / 10 if pm else None,
            "tail_s": percentile(values, pm) if pm else None}


def selfcheck():
    a = make_plan("manifest_ingest", 7)
    assert a == make_plan("manifest_ingest", 7), "plan not deterministic"
    assert a != make_plan("manifest_ingest", 8), "seed ignored"
    for w in WORKLOADS:
        assert make_plan(w, 3) == make_plan(w, 3), w
    cases = {9: None, 19: None, 20: 500, 39: 500, 40: 750, 99: 750,
             100: 900, 199: 900, 200: 950, 999: 950, 1000: 990, 9999: 990,
             10000: 999}
    for n, want in cases.items():
        got = tail_percentile(n)
        assert got == want, f"tail_percentile({n}) = {got}, want {want}"
    assert percentile(list(range(1, 101)), 900) == 90
    assert percentile(list(range(1, 21)), 500) == 10
    print("selfcheck ok")


# ------------------------------------------------------------------ build

def fingerprint():
    h = hashlib.sha1()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = os.path.join(TARGET, "build.stamp")
    want = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return False
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=BENCH, env=env, timeout=840,
                       stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(want)
    return True


# -------------------------------------------------------------------- run

def spark_home():
    """$SPARK_HOME, or the installation that holds `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return home


def jvm(args, tmp, deadline):
    """Runs perfbench.Main and returns the samples it wrote."""
    out = os.path.join(tmp, "result.json")
    cmd = (["java", *JVM_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp",
            f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Main", *args, "--tmp", tmp, "--out", out])
    left = deadline - time.monotonic()
    if left <= 0:
        raise SystemExit("perfbench: out of time before the JVM started")
    r = subprocess.run(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=left)
    if r.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else None


def evaluate(workload, res):
    """(report, failures, attempted) from the JVM's raw samples."""
    units = res["units"]
    warm = [u for u in units if u["kind"] == "warm"]
    warm_plain = [u for u in warm if not u["traced"]] or warm
    failures = [f"unit {u['unit']}: {u['error']}" for u in units
                if u["error"]]
    checks = res["checks"]
    attempted = len(units)
    if "error" in checks:
        failures.append(f"checks: {checks['error']}")

    def fail_if(cond, msg):
        if cond:
            failures.append(msg)

    rows_per_unit = med([u["rows"] for u in warm_plain])
    if workload == "etl_job":
        for u in units:
            f = u["facts"]
            attempted += 1
            fail_if(f.get("status") != "success" or f.get("rows") != ETL_ROWS
                    or f.get("variance_pct") != 0.0,
                    f"etl unit {u['unit']}: {f}")
        # the span pass must do what the traced Jobs.execute units did
        job_counts = {u["layers"]["spark.jobs"] for u in warm
                      if u["traced"]}
        for u in units:
            if u["kind"] == "spans":
                attempted += 1
                n = u["layers"]["spark.jobs"]
                fail_if(job_counts != {n}, f"span pass made {n} Spark jobs, "
                        f"the traced jobs {sorted(job_counts)}")
    else:
        for k in ("src_minus_replay", "replay_minus_src", "dst_minus_src",
                  "src_minus_dst"):
            attempted += 1
            fail_if(checks.get(k) != 0, f"manifest check {k}: "
                                        f"{checks.get(k)}")
    warm_s = med([u["wall_s"] for u in warm_plain])
    report = {
        "workload": workload,
        "setup_s": {"value": res["setup_s"], "n": 1},
        "cold_s": {"value": units[0]["wall_s"], "n": 1},
        "warm_s": {"value": warm_s, "n": len(warm_plain)},
        "rows_per_s": {"value": rows_per_unit / warm_s if warm_s else None,
                       "rows_per_unit": rows_per_unit},
        "peak_rss_mb": {"value": res["peak_rss_kb"] / 1024, "n": 1},
        "fail_ratio": len(failures) / attempted,
        "session_build_s": res["session_build_s"],
        "units": [(u["kind"], round(u["wall_s"], 4), u["traced"])
                  for u in units],
        "checks": checks,
        "env": res["env"],
    }
    if "space_amp" in res["report"]:
        report["space_amp"] = res["report"]["space_amp"]
    ops = {}
    for u in warm_plain:
        for name, secs in u["ops"]:
            ops.setdefault(name, []).append(secs)
    if workload == "manifest_ingest":
        commits = [s for k, v in ops.items() if k.startswith("commit.")
                   for s in v]
        report["commit"] = latency(commits)
        report["read"] = latency(ops.get("read", []))
    report["ops_p50_s"] = {k: med(v) for k, v in sorted(ops.items())}
    return report, failures, attempted


WARM_LAYERS = ("spark.jobs", "spark.stages", "spark.tasks",
               "spark.executor_run_s", "spark.executor_cpu_s",
               "spark.cpu_util", "spark.shuffle_bytes", "spark.gc_s",
               "spark.driver_s", "fs.bytes_read", "fs.bytes_written")


def layers(res):
    """Per-layer metrics of a traced run. Spans come from the workload's
    span pass where it has one (etl_job), else from its traced units."""
    units = res["units"]
    traced = [u for u in units if u["kind"] == "warm" and u["traced"]]
    plain = [u for u in units if u["kind"] == "warm" and not u["traced"]]
    spanned = [u for u in units if u["kind"] == "spans"] or traced
    cold = units[0]["layers"]
    cold_totals = res["cold_layers"]
    out = {"session.build_s": res["session_build_s"]}
    for k in ("jvm.classes_loaded", "jvm.jit_ms", "jvm.gc_s"):
        out[k] = cold_totals[k]  # JVM start through the cold unit
    for k in ("spark.codegen_compiles", "spark.codegen_ms",
              "spark.catalyst_ms"):
        out[k] = cold[k]  # the cold unit
    for k in WARM_LAYERS:
        out[k] = med([u["layers"][k] for u in traced])
    out["api.build_s"] = med([u["layers"]["api.build_s"] for u in spanned])
    out["trace.overhead_s"] = (med([u["wall_s"] for u in traced])
                               - med([u["wall_s"] for u in plain]))
    # workload-specific spans and directory counts, for the report
    spans = {}
    for u in spanned:
        for name, secs in u["layers"]["spans"].items():
            spans.setdefault(name, []).append(secs)
    detail = {f"{k}_s": med(v) for k, v in sorted(spans.items())}
    detail.update({f"{k}_s": v for k, v in res["setup_spans"].items()})
    for key in ("generations", "log_files"):
        vals = [u["facts"][key] for u in traced if key in u["facts"]]
        if vals:
            detail[f"manifest.{key}"] = max(vals)
    detail["setup"] = res["setup_layers"]
    detail["cold_unit"] = cold
    return out, detail


UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.startswith("fs.bytes"):
        return "bytes"
    if name == "spark.cpu_util":
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    if not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the repository root "
                         "(src/main/scala/graft not found)")
    started = time.monotonic()
    built = build()
    corpus_dir = os.path.join(TARGET, "corpus")
    corpus.main(corpus_dir)
    # a run ends within 175 s, or within 880 s when it had to build
    deadline = started + (880 if built else 175)

    tmp = os.path.join(TARGET, "tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        plan = os.path.join(tmp, "plan.txt")
        with open(plan, "w") as f:
            f.write(make_plan(a.workload, a.seed))
        shape = SHAPE[a.workload]
        args = ["--workload", a.workload, "--corpus", corpus_dir,
                "--plan", plan, "--cores", str(len(os.sched_getaffinity(0))),
                "--trace", str(a.trace), "--seconds", str(a.seconds),
                "--warmup", str(shape["warmup"]),
                "--min-warm", str(max(shape["min_warm"], 4 * a.trace)),
                "--max-warm", str(max(shape["max_warm"], 4 * a.trace))]
        if a.trace:
            traces = os.path.join(TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl")]
        res = jvm(args, tmp, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    report, failures, attempted = evaluate(a.workload, res)
    if a.trace:
        metrics, detail = layers(res)
        report["layers"] = detail
        report["trace.overhead_s"] = metrics["trace.overhead_s"]
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": report[k]["value"], "unit": u}
               for k, u in UNITS.items()}
    report["failures"] = failures
    print(json.dumps(report))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))
    for f in failures:
        log(f"FAILED {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
