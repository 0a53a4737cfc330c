#!/usr/bin/env python3
"""Repository benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine from source
with sbt (the harness in this directory depends on the repository's own
build) and caches the classpath in `.bench_build/`; later calls reuse it
until a source file changes. Page corpora are generated once per (seed,
size) and cached there too. The fixture tables are the repository's
seed-42 test data at sf0.001 and sf0.1, kept byte for byte under
`testdata/` and checked against `testdata/SHA256SUMS` on every run.

The JVM harness (`src/main/scala/perfbench/Harness.scala`) runs the ops at
`local[4]` with the JVM settings of the repository's `run` task (G1) and
records each op's wall time, error and output. Set-up time is the JVM's
own cold start, from launch to the end of one warm-up call; a missing
corpus is generated before, in a JVM of its own. This script checks every
output: fixture ops against their `SparkEntry.oracleSql` twin run in
DuckDB, with `tools/oracle_check.py`'s normalisation; flagship ops against
the `pip_zonal_count` twin run over the same corpus. It prints a context
line, then one JSON result as the last line: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.
`layers.json` says which end-to-end metric each per-layer one should move;
`spread.py` measures run-to-run spread over seeds; the statistics are
tested by `python3 -m unittest discover -s perfbench/tests`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("flagship", "query_mix")
CORES = 4
HEAP = "3g"
TESTDATA = os.path.join(HERE, "testdata")
CORPUS_PAGES = 1_000_000
WARM_PAGES = 50_000
# The seed picks one of CORPORA seeded corpora (seed mod CORPORA), so a
# series of runs generates each corpus once instead of once per seed: a
# corpus and its expected zone counts take about 45 s to make on a 4-core
# host, and a checkout's series of runs has to fit a fixed time budget.
CORPORA = 2
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class HarnessError(Exception):
    pass


# ---- build ----------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_key():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("the engine's sources (build.sbt, src/main) are not next to perfbench/")
    key = source_key()
    key_file = os.path.join(BUILD, "build.key")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(key_file) and os.path.exists(cp_file):
        with open(key_file) as f, open(cp_file) as g:
            if f.read() == key:
                return g.read(), key
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if not lines:
        die("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(key_file, "w") as f:
        f.write(key)
    return cp, key


def tmp_dir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])


def testdata():
    """The sf0.001 and sf0.1 table directories, after checking each file."""
    sums = os.path.join(TESTDATA, "SHA256SUMS")
    if not os.path.exists(sums):
        die(f"test data manifest {os.path.relpath(sums, ROOT)} is missing")
    with open(sums) as f:
        for line in f:
            want, name = line.split()
            path = os.path.join(TESTDATA, name)
            if not os.path.isfile(path):
                die(f"test data file {os.path.relpath(path, ROOT)} is missing")
            with open(path, "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != want:
                    die(f"test data file {os.path.relpath(path, ROOT)} differs from SHA256SUMS")
    return os.path.join(TESTDATA, "sf0.001"), os.path.join(TESTDATA, "sf0.1")


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- the JVM run ------------------------------------------------------------

def run_harness(cp, paths, work, workload, seed, seconds, trace, prepare=False):
    """Runs the harness JVM; returns its result, or None for a prepare run."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the repository's `run` options (G1), with a fixed heap that fits a
    # shared 4-core host, so the heap's size does not drift between runs;
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp_dir()}", "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--sf-small", paths["sf_small"], "--sf-large", paths["sf_large"],
            "--corpus", paths["corpus"], "--corpus-seed", str(seed % CORPORA),
            "--corpus-pages", str(CORPUS_PAGES),
            "--warm-corpus", paths["warm"], "--warm-pages", str(WARM_PAGES),
            "--cores", str(CORES), "--prepare", str(int(prepare)), "--result", result])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        cmd += ["--launched-ns", str(time.time_ns())]
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise HarnessError(f"harness exceeded {JVM_TIMEOUT_S}s; log in {work}/jvm.log")
    if p.returncode == 0 and prepare:
        return None
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise HarnessError(f"harness failed with code {p.returncode}")
    with open(result) as f:
        return json.load(f)


# ---- output checks ----------------------------------------------------------

def norm(v):
    """tools/oracle_check.py's cell normalisation."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v!r}"
    return repr(v)


def digest(con, sql):
    df = con.sql(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(norm(v) for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def cached(path, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(value, f)
    return value


def sql_key(*parts):
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


class Checker:
    """Expected values come from the oracle twins, cached per input."""

    def __init__(self, oracle_sql, paths, workload):
        import duckdb
        self.duckdb = duckdb
        self.oracle = oracle_sql
        self.paths = paths
        # query_mix reads sf0.1; every other gated call, the trace probe's
        # included, reads sf0.001
        self.sf = paths["sf_large"] if workload == "query_mix" else paths["sf_small"]
        self.fixture_con = {}

    def _fixture(self, sf_dir):
        if sf_dir not in self.fixture_con:
            con = self.duckdb.connect()
            con.execute(f"SET temp_directory = '{tmp_dir()}'")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            self.fixture_con[sf_dir] = con
        return self.fixture_con[sf_dir]

    def fixture_op(self, op, sf_dir):
        sql = self.oracle.get(op["name"])
        if sql is None:
            return f"no oracle twin for {op['name']}"
        con = self._fixture(sf_dir)
        exp = cached(os.path.join(BUILD, "expected", sql_key(sf_dir, sql) + ".json"),
                     lambda: digest(con, sql))
        got = digest(con, f"SELECT * FROM read_parquet('{op['out']}/*.parquet')")
        if got != exp:
            return f"output {got['rows']} rows/{got['digest'][:12]} != oracle {exp['rows']} rows/{exp['digest'][:12]}"
        return None

    def zone_counts(self):
        corpus = self.paths["corpus"]
        # the twin's pages CTE feeds one branch per zone: materialise it so
        # DuckDB digests each page once instead of once per zone
        sql = self.oracle["pip_zonal_count"].replace(
            "WITH pages AS (", "WITH pages AS MATERIALIZED (", 1)

        def compute():
            con = self.duckdb.connect()
            con.execute(f"SET temp_directory = '{tmp_dir()}'")
            con.execute("CREATE VIEW documents AS SELECT doc_id, text, lang, "
                        f"'corpus' AS source, n_chars FROM read_parquet('{corpus}/*.parquet')")
            return {str(f): n for f, n in con.sql(f"SELECT fid, n_pages FROM ({sql})").fetchall()}
        return cached(os.path.join(corpus + "-expected", sql_key(sql) + ".json"), compute)

    def flagship_op(self, op):
        if op["resumed"] is not False:
            return f"snapshot resumed={op['resumed']}, expected a fresh commit"
        exp = self.zone_counts()
        con = self.duckdb.connect()
        got = {str(f): n for f, n in con.sql(
            f"SELECT fid, n_pages FROM read_parquet('{op['out']}/data/*.parquet')").fetchall()}
        if got != exp:
            return "zone counts differ from the oracle twin"
        if op["rows"] != len(exp):
            return f"snapshot rows {op['rows']} != expected {len(exp)}"
        return None

    def check(self, op):
        if op["error"]:
            return op["error"]
        if op["name"] == "flagship":
            return self.flagship_op(op)
        if op["name"] == "probe:Dem":
            return None
        if op["name"].startswith("probe:"):
            return self.fixture_op(dict(op, name=op["name"].removeprefix("probe:")),
                                   self.paths["sf_small"])
        return self.fixture_op(op, self.sf)


# ---- metrics ----------------------------------------------------------------

def end_to_end(setup_s, ops):
    walls = [o["wall_s"] for o in ops]
    # reported in the context only: a run gives fewer than the 40 samples
    # p75, the lowest percentile above p50, needs to have 10 beyond it
    tail, pct, n = stats.tail(walls)
    failed = sum(1 for o in ops if o["failure"])
    return {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (sum(o["in_pages"] for o in ops) / sum(walls), "pages/s"),
        "ops_per_s": (len(ops) / sum(walls), "1/s"),
        "op_s_p50": (stats.median(walls), "s"),
        "ops_ok_ratio": (1.0 - stats.failure_ratio(failed, len(ops)), "ratio"),
        "live_heap_mb": (stats.median([o["heap_live_mb"] for o in ops]), "MB"),
        "bytes_written_per_input_byte": (
            sum(o["out_bytes"] for o in ops) / sum(o["in_bytes"] for o in ops), "B/B"),
    }, {"op_s_tail": tail, "tail_percentile": pct, "tail_samples": n,
        "peak_live_heap_mb": max(o["heap_live_mb"] for o in ops)}


SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_busy_s", "task_cpu_s", "gc_s",
                  "sched_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "task_failures")


def per_layer(res, all_ops):
    units = {m["name"]: m["unit"] for m in load_spec()["per_layer"]}
    with open(os.path.join(HERE, "layers.json")) as f:
        unmapped = sorted(set(units) - set(json.load(f)))
    if unmapped:
        die(f"layers.json does not say what {unmapped} should move")
    workload_ops = [o for o in all_ops if not o["name"].startswith("probe:")]
    traced = [o for o in workload_ops if o["traced"]]
    plain = [o for o in workload_ops if not o["traced"]]
    out = {}
    for k in SPARK_COUNTERS:
        out[f"spark.{k}"] = stats.median([o["spark"][k] for o in traced])
    out["spark.driver_gap_s"] = stats.median(
        [o["wall_s"] - stats.union_length(o["spark"]["job_intervals_ms"]) / 1e3 for o in traced])
    for layer in ("SparkEntry.build_s", "SparkEntry.build_jobs", "SparkEntry.plan_s",
                  "SparkEntry.exec_s", "Tables.pages_s", "Tables.register_jobs"):
        xs = [o["layers"][layer] for o in all_ops if o["traced"] and layer in o["layers"]]
        out[layer] = stats.median(xs) if xs else None
    out.update({k: v for k, v in res["probes"].items() if k in units})
    out["trace.overhead_ratio"] = (stats.median([o["wall_s"] for o in traced]) /
                                   stats.median([o["wall_s"] for o in plain]) - 1.0)
    out["ops_failed_ratio"] = stats.failure_ratio(
        sum(1 for o in all_ops if o["failure"]), len(all_ops))
    missing = [k for k in units if out.get(k) is None]
    if missing:
        die(f"traced run produced no value for {missing}")
    return {k: (out[k], units[k]) for k in units}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sf_small, sf_large = testdata()
    cp, key = build()
    data = os.path.join(BUILD, "data")
    os.makedirs(data, exist_ok=True)
    paths = {
        "sf_small": sf_small,
        "sf_large": sf_large,
        "corpus": os.path.join(data, f"corpus-s{args.seed % CORPORA}-n{CORPUS_PAGES}"),
        "warm": os.path.join(data, f"warm-n{WARM_PAGES}"),
    }
    if args.workload != "flagship":
        paths["corpus"] = paths["warm"]
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    t0, ticks0 = time.time(), cpu_ticks()
    try:
        if not all(os.path.exists(os.path.join(paths[k], "_SUCCESS")) for k in ("corpus", "warm")):
            run_harness(cp, paths, work + "-prepare", args.workload, args.seed, 0, 0, prepare=True)
        res = run_harness(cp, paths, work, args.workload, args.seed, args.seconds, args.trace)
    except HarnessError as e:
        die(str(e))

    t1 = time.time()
    checker = Checker(res["oracle_sql"], paths, args.workload)
    for op in res["ops"]:
        op["failure"] = checker.check(op)
    check_s = time.time() - t1
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    failures = [(o["name"], o["failure"]) for o in res["ops"] if o["failure"]]

    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: a high
    # share means the run's timings are not comparable with quiet runs
    steal = (None if ticks0 is None or ticks1 is None or ticks1[1] == ticks0[1]
             else (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]))
    context = dict(res["context"], git_sha=git_sha(), source_sha256=key,
                   trace=args.trace, run_wall_s=round(time.time() - t0, 3),
                   check_s=round(check_s, 3),
                   cpu_steal_share=steal,
                   failures=failures[:5])
    ops = res["ops"]
    if args.trace:
        metrics = per_layer(res, ops)
        context["self_s"] = res["self_s"]
        context["spans"] = os.path.relpath(os.path.join(work, "spans.jsonl"), ROOT)
        context["probes"] = res["probes"]
    else:
        metrics, extra = end_to_end(res["setup_s"], ops)
        context.update(extra)
    report = {"context": context,
              "ops": [{k: o[k] for k in ("name", "wall_s", "traced", "failure")} for o in ops]}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"context": context}))
    failed = len(failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
