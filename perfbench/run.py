#!/usr/bin/env python3
"""Benchmark for the graft engine: one command runs a workload, checks its
outputs and prints every metric with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run in a checkout builds the
engine and the benchmark from source with sbt (perfbench/build.sbt).
Human-readable lines go to stdout first; the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
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
WORK = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source-hash.txt")

sys.path.insert(0, HERE)
import gen  # noqa: E402


def read_json(path):
    with open(path) as f:
        return json.load(f)


WORKLOADS = read_json(os.path.join(HERE, "workloads.json"))
SPEC = read_json(os.path.join(ROOT, "BENCHMARK.json"))
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# Query workloads time this many passes, whatever the speed of the code,
# so every run has the same sample count. Each JVM gets this heap.
PASSES = 6
HEAP = "2g"
# A run must end within 180 s; a JVM that hangs is killed before that.
JVM_TIMEOUT_S = 150
# Per-layer metrics of layers a workload does not run read 0: artifacts a
# workload does not read, and query builders on etl_ingest.
# etl_ingest is not a BENCHMARK.json workload while its output check fails
# (see README.md); its pipeline and sink metrics, with their units, are
# printed before the result line but are not in it.
ETL_LAYERS = {"XetraPipeline.run_s": "s", "EurexPipeline.run_s": "s", "output.write_mb": "MB",
              "output.files": "count", "output.partitions": "count",
              "bytes_out_per_byte_in": "ratio"}
# Layer metrics that are a ratio or a maximum over all traced passes; the
# others are sums, reported per pass.
NOT_SUMMED = ("exec.core_util", "exec.max_task_s", "exec.peak_mem_mb")


def log(msg):
    print(msg, flush=True)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- statistics

def tail_percentile(values, min_above=10):
    """The highest percentile p (in 0..100) of `values` that leaves at
    least `min_above` samples strictly above its rank, with its value.

    The p-th percentile uses the nearest-rank rule: rank ceil(p/100 * n).
    Leaving `min_above` samples above means rank n - min_above, so
    p = 100 * (n - min_above) / n. With n <= min_above no percentile
    qualifies; the maximum is returned as p = 100 and the caller prints
    the sample count beside it. Returns (p, value, n).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= min_above:
        return 100.0, xs[-1], n
    rank = n - min_above
    return 100.0 * rank / n, xs[rank - 1], n


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    # Offline resolution only: every dependency ships with the toolchain.
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        *(["-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]
          if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else [])])
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "classpath"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"build: {time.time() - t0:.1f} s")


def jvm(mode, args):
    # Spark's local directories and the JVM's temporary files stay in the
    # run directory, inside the checkout.
    tmp = os.path.join(os.path.dirname(args["warehouse"]), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", open(CLASSPATH).read().strip(), "perfbench.Main", mode,
           *[f"{k}={v}" for k, v in args.items()]]
    logf = os.path.join(args["warehouse"] + ".log")
    with open(logf, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:  # the JVM was killed and reaped
            die(f"JVM mode {mode} ran longer than {JVM_TIMEOUT_S} s")
    if r.returncode != 0:
        with open(logf) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"JVM mode {mode} exited with {r.returncode}")
    return read_json(args["out"])


def steal_seconds():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- query workloads

def check_queries(names, dump, data_dir):
    """Compare each query's dumped result with the DuckDB oracle, using the
    compare of tools/validate.py. Returns {query: [problems]} for failures
    and {query: rows} for every result."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import validate
    oracle = read_json(os.path.join(dump, "oracle_sql.json"))
    con = duckdb.connect()
    for t in validate.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad, rows = {}, {}
    for name in names:
        got = validate.load_spark(dump, name)
        if got is None:
            bad[name] = ["no result"]
            continue
        rows[name] = len(got)
        if name not in oracle:
            bad[name] = ["no oracle SQL"]
            continue
        try:
            problems = validate.compare(name, got, con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an oracle error is a failed check, not a crash
            problems = [f"oracle error: {e}"]
        if problems:
            bad[name] = problems
    return bad, rows


def fingerprints(dump, names):
    """Row count and content hash of each dumped result, after the
    normalisation tools/validate.py compares with."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import validate
    out = {}
    for name in names:
        df = validate.load_spark(dump, name)
        if df is not None:
            body = validate.norm(df).to_csv(index=False, float_format="%.17g").encode()
            out[name] = f"{len(df)}:{hashlib.sha256(body).hexdigest()[:16]}"
    return out


def run_queries(w, seed, seconds, trace, run_dir, cores):
    data_a, data_b = os.path.join(run_dir, "data_a"), os.path.join(run_dir, "data_b")
    t0 = time.time()
    gen.gen_tables(data_a, seed, w["sf"])
    shutil.copytree(data_a, data_b)
    dump = os.path.join(run_dir, "dump")
    res = jvm("queries", {
        "cores": cores, "seconds": seconds, "warm_passes": w["warm_passes"], "passes": PASSES,
        "trace": trace,
        "queries": ",".join(w["queries"]), "artifacts": ",".join(w["artifacts"]),
        "data_a": data_a, "data_b": data_b, "dump": dump,
        "warehouse": os.path.join(run_dir, "warehouse"),
        "out": os.path.join(run_dir, "result.json")})
    t2 = time.time()
    bad, rows = check_queries(w["queries"], dump, data_a)
    log(f"run phases: inputs+JVM {t2 - t0:.1f} s (set-up {res['setup_s']:.1f} s, warm-up "
        f"{res['warmup_s']:.1f} s), output check {time.time() - t2:.1f} s")
    attempted = res["ops_attempted"]
    passes = attempted // len(w["queries"])
    # A query whose result fails its check fails in every timed pass.
    threw = {f["op"] for f in res["failures"]}
    failed = len(res["failures"]) + passes * len(set(bad) - threw)
    for name, problems in sorted(bad.items()):
        log(f"check FAIL {name}: {'; '.join(problems)[:300]}")
    for f in res["failures"]:
        log(f"op FAIL {f['op']}: {f['error'][:300]}")
    if res["built_after_setup"]:
        log(f"warning: artifacts built after set-up: {res['built_after_setup']}")
    log(f"checks: {len(w['queries']) - len(bad)}/{len(w['queries'])} queries match the DuckDB oracle")
    wall = statistics.median(res["pass_wall_s"])
    p, tail, n = tail_percentile(res["op_s"])
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "op_p50_s": statistics.median(res["op_s"]),
        "op_tail_s": tail,
        "rows_per_s": sum(rows.values()) / wall,
    }
    notes = [f"passes: {len(res['pass_wall_s'])} timed untraced of {len(w['queries'])} queries"
             f" (+{res['fill_passes']} untimed to fill --seconds); wall_s per pass "
             + ", ".join(f"{x:.3f}" for x in res["pass_wall_s"]),
             f"op_tail_s is p{p:.1f} of {n} samples"]
    layers = None
    if res["trace"]:
        t = res["trace"]
        k = t["roots"]
        layers = {name: v if name in NOT_SUMMED else v / k for name, v in t["layers"].items()}
        layers.update({name: 0.0 for name in source_layers()})
        layers.update(res["sources"])
        layers["peak_rss_mb"] = res["peak_rss_mb"]
        notes += self_time_table(t, wall)
    return e2e, layers, attempted, failed, notes


def source_layers():
    return [m["name"] for m in SPEC["per_layer"] if m["name"].startswith("sources.")]


def self_time_table(t, untraced_wall):
    """Per-layer self time per root span (pass or job); the layers add up
    to the traced wall time by construction."""
    k = t["roots"]
    traced = t["wall_s"] / k
    lines = ["self time per " + ("pass" if "pass" in t["self_s"] else "ETL job") + ":"]
    for layer, v in sorted(t["self_s"].items(), key=lambda x: -x[1]):
        lines.append(f"  {layer:<8} {v / k:9.4f} s  {100 * v / t['wall_s']:5.1f} %")
    lines.append(f"  {'sum':<8} {sum(t['self_s'].values()) / k:9.4f} s  = traced wall_s {traced:.4f} s")
    lines.append(f"tracing overhead: traced wall_s {traced:.4f} - untraced wall_s "
                 f"{untraced_wall:.4f} = {traced - untraced_wall:+.4f} s")
    return lines


# ---------------------------------------------------------------- etl_ingest

def dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    parts = {d for d, _, fs in os.walk(path) if "=" in os.path.basename(d)}
    return sum(os.path.getsize(f) for f in files), len(files), len(parts)


def check_etl(out, expected):
    """Row counts per sink, quarantined lines per input file, and the
    missing-ISIN / missing-underlying quality sinks. Returns the failed
    checks per operation and the rows committed to the two fact sinks."""
    import duckdb
    con = duckdb.connect()

    def rows(sink):
        files = glob.glob(os.path.join(out, sink, "**", "*.parquet"), recursive=True)
        if not files:
            return 0, []
        n = con.execute(f"SELECT count(*) FROM read_parquet({files!r}, hive_partitioning=1)").fetchone()[0]
        return n, files

    _, files = rows("quality_check/corrupt_rows")
    lines = set()
    if files:
        lines = {r[0] for r in con.execute(
            f"SELECT _corrupt_record FROM read_parquet({files!r})").fetchall()}
    checks = {"XetraPipeline.run": [], "EurexPipeline.run": []}

    def expect(op, what, got, want):
        if got != want:
            checks[op].append(f"{what}: {got} != expected {want}")
    committed = {sink: rows(f"data/{sink}")[0] for sink in ("xetra", "eurex")}
    expect("XetraPipeline.run", "data/xetra rows", committed["xetra"], expected["xetra_rows"])
    expect("XetraPipeline.run", "quarantined xetra lines",
           len(lines & set(expected["malformed_xetra"])), expected["corrupt_xetra"])
    expect("EurexPipeline.run", "data/eurex rows", committed["eurex"], expected["eurex_rows"])
    expect("EurexPipeline.run", "quarantined eurex lines",
           len(lines & set(expected["malformed_eurex"])), expected["corrupt_eurex"])
    expect("EurexPipeline.run", "missing_isin rows", rows("quality_check/missing_isin")[0],
           expected["missing_isin"])
    expect("EurexPipeline.run", "missing_underlying rows",
           rows("quality_check/missing_underlying")[0], expected["missing_underlying"])
    return checks, sum(committed.values())


def run_etl(w, seed, seconds, trace, run_dir, cores):
    inputs = os.path.join(run_dir, "input")
    expected = gen.gen_etl(inputs, seed, w["xetra_rows"], w["eurex_rows"])
    csv = {k: os.path.join(inputs, f"{k}.csv") for k in ("xetra", "eurex", "dimension")}
    bytes_in = os.path.getsize(csv["xetra"]) + os.path.getsize(csv["eurex"])
    jobs, traced_jobs, failed, attempted, failures, fill = [], [], 0, 0, {}, 0
    t0 = time.time()
    # Each job is a cold JVM. Exactly one untraced job gives the end-to-end
    # metrics, so every run has the same sample count; a traced run adds one
    # traced job, the untraced one for the overhead line. Jobs after them
    # only fill --seconds: they are run and checked but not timed.
    plan = [0, 1] if trace else [0]
    i = 0
    while i < len(plan) or time.time() - t0 < seconds:
        traced = plan[i] if i < len(plan) else 0
        out = os.path.join(run_dir, "output")
        shutil.rmtree(out, ignore_errors=True)
        res = jvm("etl", {"cores": cores, "trace": traced, "output": out,
                          "warehouse": os.path.join(run_dir, f"warehouse{i}"),
                          "out": os.path.join(run_dir, f"result{i}.json"), **csv})
        res["output"] = dir_stats(out)
        checks, res["rows"] = check_etl(out, expected)
        if i >= len(plan):
            fill += 1
        else:
            (traced_jobs if traced else jobs).append(res)
        for op, problems in checks.items():
            attempted += 1
            if problems:
                failed += 1
                failures[op] = problems
        i += 1
    for op, problems in failures.items():
        log(f"check FAIL {op}: {'; '.join(problems)}")
    wall = statistics.median(j["wall_s"] for j in jobs)
    ops = [x for j in jobs for x in j["op_s"]]
    p, tail, n = tail_percentile(ops)
    e2e = {
        "setup_s": statistics.median(j["setup_s"] for j in jobs),
        "wall_s": wall,
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail,
        "rows_per_s": statistics.median(j["rows"] / j["wall_s"] for j in jobs),
    }
    out_bytes = statistics.median(j["output"][0] for j in jobs)
    notes = [f"jobs: {len(jobs)} timed cold JVMs (+{fill} untimed to fill --seconds); wall_s per job " + ", ".join(f"{j['wall_s']:.3f}" for j in jobs),
             f"op_tail_s is p{p:.1f} of {n} samples",
             f"bytes_out_per_byte_in: {out_bytes / bytes_in:.4f} ({out_bytes} parquet B / {bytes_in} csv B)"]
    layers = None
    if traced_jobs:
        k = len(traced_jobs)
        layers = {}
        for j in traced_jobs:
            for name, v in j["trace"]["layers"].items():
                layers[name] = layers.get(name, 0.0) + v / k
        layers.update({name: 0.0 for name in source_layers()})
        layers.update({
            "XetraPipeline.run_s": statistics.mean(j["op_s"][0] for j in traced_jobs),
            "EurexPipeline.run_s": statistics.mean(j["op_s"][1] for j in traced_jobs),
            "output.write_mb": statistics.mean(j["output"][0] for j in traced_jobs) / 1048576,
            "output.files": statistics.mean(j["output"][1] for j in traced_jobs),
            "output.partitions": statistics.mean(j["output"][2] for j in traced_jobs),
            "bytes_out_per_byte_in": out_bytes / bytes_in,
            "peak_rss_mb": statistics.mean(j["peak_rss_mb"] for j in traced_jobs)})
        notes += [f"  {name:<34} {layers[name]:>14.6g} {unit}" for name, unit in ETL_LAYERS.items()]
        merged = {"roots": k, "wall_s": sum(j["trace"]["wall_s"] for j in traced_jobs),
                  "self_s": {}}
        for j in traced_jobs:
            for layer, v in j["trace"]["self_s"].items():
                merged["self_s"][layer] = merged["self_s"].get(layer, 0.0) + v
        notes += self_time_table(merged, wall)
    return e2e, layers, attempted, failed, notes


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    w = WORKLOADS["workloads"][a.workload]
    cores = len(os.sched_getaffinity(0))  # nproc
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0 = steal_seconds()
    runner = run_etl if w["kind"] == "etl" else run_queries
    e2e, layers, attempted, failed, notes = runner(w, a.seed, a.seconds, a.trace, run_dir, cores)
    steal = steal_seconds() - steal0
    # Keep the run's JSON records and logs; drop generated data and outputs.
    for d in glob.glob(os.path.join(run_dir, "*")):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)

    log(f"workload {a.workload} seed {a.seed}: nproc {cores}, local[{cores}], "
        f"steal {steal:.2f} s, fail_frac {failed}/{attempted} = {failed / attempted:.4f}")
    for line in notes:
        log(line)
    values = layers if a.trace else e2e
    spec = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        die(f"metrics not computed: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    for k, m in metrics.items():
        log(f"  {k:<34} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
