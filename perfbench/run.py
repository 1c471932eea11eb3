#!/usr/bin/env python3
"""graft benchmark: one seeded workload, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload letter_index --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds graft together with
the harness (perfbench/harness, sbt); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed into
.bench_work/, the harness JVM runs the workload in-process, and the
outputs are checked after the timed window. The last stdout line is the
result JSON; the lines before it give the metrics with their units, the
generated input sizes, the check verdicts and the host fingerprint.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
PROGRAM = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
LIMIT_S = 177          # whole run, build excluded
# rounds end by then (the harness starts a round only if one as long as
# the last still fits), leaving time for the checks and exit: a few
# seconds after letter_index and curated_ingest, more after a query
# workload's result export and DuckDB check
ROUNDS_END_S = {"relational_mix": 140, "llm_ops": 140}
ROUNDS_END_DEFAULT_S = 165
# The heap is committed at its fixed size but not pre-touched, so
# peak_rss_mb (VmHWM) counts only the pages the program touches: the
# young generation, the old generation's peak occupancy and non-heap
# memory. The young generation has a fixed size because G1 otherwise
# sizes it from pause-time predictions, which made the peak depend on
# timing (IQR/median 0.10-0.16 over 10 seeds with -Xmx2g alone, 0.01-0.03
# with these options).
HEAP_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m"]

sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ["letter_index", "relational_mix", "llm_ops", "curated_ingest"]
QUERY_WORKLOADS = {"relational_mix", "llm_ops"}
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "ops_per_s": "1/s", "failed_ops_ratio": "ratio",
             "peak_rss_mb": "MB", "write_bytes_per_input_byte": "ratio"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


_child = None


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stop_child():
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


def run_child(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group with output to log; returns its
    exit code, or None after killing the group on timeout."""
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, cwd=cwd, stdout=out,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  start_new_session=True, env=env)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _stop_child()
            return None


def source_hash():
    h = hashlib.sha256()
    files = sorted(PROGRAM.rglob("*.scala")) + sorted(HARNESS.rglob("*.scala"))
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for f in files:
        if "target" in f.relative_to(ROOT).parts:
            continue
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(spark):
    """Compile graft + harness with sbt unless this source tree is built."""
    digest = source_hash()
    stamp = BUILD / "build.stamp"
    classes = HARNESS / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes, digest
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.forcestart=false", "compile"],
                   HARNESS, log, 840, dict(os.environ, SPARK_HOME=spark))
    if rc is None:
        fail("build timed out")
    if rc != 0 or not classes.is_dir():
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (sbt exit {rc})")
    stamp.write_text(digest)
    return classes, digest


def generate(workload, seed, data):
    rng = gen.np.random.default_rng(seed)
    if workload == "letter_index":
        _, sizes = gen.letter_corpus(rng, str(data))
    elif workload == "relational_mix":
        sizes = gen.tpch_tables(rng, str(data))
    elif workload == "llm_ops":
        sizes = gen.documents(rng, str(data), gen.SIZES["base_docs"])
    else:
        split = gen.ingest_split()
        sizes = gen.documents(rng, str(data), split["base_docs"])
        split.pop("base_docs")
        sizes.update(split)
    return sizes


def spark_home():
    """$SPARK_HOME, else a Spark distribution (one with jars/) whose
    spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        candidates = [os.environ["SPARK_HOME"]]
    else:
        candidates = [str(Path(d, "spark-submit").resolve().parent.parent)
                      for d in os.environ.get("PATH", "").split(os.pathsep)
                      if Path(d, "spark-submit").is_file()]
    for home in candidates:
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution found: set SPARK_HOME", 2)


def run_harness(args, classes, spark, data, work, cores, extra):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    result = work / "result.json"
    cmd = [java] + HEAP_OPTS + [f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark}/jars/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", str(data), "--work", str(work),
            "--result", str(result), "--t0-ms", str(int(T0 * 1000)),
            "--deadline-ms", str(int((T0 + ROUNDS_END_S.get(
                args.workload, ROUNDS_END_DEFAULT_S)) * 1000))] + extra
    log = work / "harness.log"
    rc = run_child(cmd, work, log, max(10, LIMIT_S - (time.time() - T0)))
    if rc is None:
        fail("harness timed out")
    if rc != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness failed (exit {rc})")
    return json.loads(result.read_text())


def oracle_check(work, data, names):
    """DuckDB runs each query's SparkEntry.oracleSql over the same parquet;
    rows are compared as a multiset of VARCHAR-cast tuples (columns sorted
    by name), the normalization tools/check_oracle.py uses."""
    import duckdb
    import pyarrow.parquet as pq
    sql = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET temp_directory='{work / 'duckdb_tmp'}'")
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")

    def digest(src, cols):
        expr = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(1) || 'NULL')"
                         for c in cols)
        return con.execute(
            f"SELECT count(*), sum(hash(concat_ws(chr(31), {expr}))),"
            f" bit_xor(hash(concat_ws(chr(31), {expr}))),"
            f" sum(hash(chr(2) || concat_ws(chr(31), {expr}))) FROM ({src})"
        ).fetchone()

    verdict = {}
    for q in names:
        out = work / "export" / q
        if q not in sql:
            verdict[q] = "no oracle SQL"
            continue
        if not out.is_dir():
            verdict[q] = "no result exported"
            continue
        try:
            got_cols = sorted(pq.read_schema(next(out.glob("*.parquet"))).names)
            want_cols = sorted(r[0] for r in
                               con.execute(f"DESCRIBE {sql[q]}").fetchall())
            if got_cols != want_cols:
                verdict[q] = f"schema {got_cols} != {want_cols}"
                continue
            got = digest(f"SELECT * FROM read_parquet('{out}/*.parquet')",
                         got_cols)
            want = digest(sql[q], want_cols)
            verdict[q] = "ok" if got == want else \
                f"rows/hash differ: spark={got[0]} rows, duckdb={want[0]} rows"
        except Exception as e:  # a broken oracle is a failed check
            verdict[q] = f"error: {e}"
    return verdict


def tail(values):
    """Latency at the highest percentile with >= 10 samples beyond it.
    A window of fewer than 40 ops has no such percentile worth the name,
    so there the requirement is a quarter of the samples beyond it."""
    s = sorted(values)
    n = len(s)
    beyond = min(10, n // 4)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n, beyond


def cpu_steal_s():
    """Seconds of CPU the hypervisor gave to others, summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def fingerprint(cores, res, digest, load0, steal0):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        git = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        git = None
    fp = {"nproc": len(os.sched_getaffinity(0)), "cores_used": cores,
          "heap_opts": " ".join(HEAP_OPTS), "git_sha": git, "source_sha256": digest,
          "loadavg_start": load0, "loadavg_end": list(os.getloadavg())}
    steal1 = cpu_steal_s()
    if steal0 is not None and steal1 is not None:
        fp["cpu_steal_s"] = round(steal1 - steal0, 2)
    fp.update(res["fingerprint"])
    return fp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", action="append", default=[], metavar="KEY=N",
                    help="override one of gen.SIZES (for size studies; "
                         "the listed workloads use the defaults)")
    args = ap.parse_args()
    for kv in args.size:
        key, _, val = kv.partition("=")
        if key not in gen.SIZES:
            fail(f"unknown size {key}; one of {sorted(gen.SIZES)}", 2)
        gen.SIZES[key] = type(gen.SIZES[key])(float(val))
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if not (PROGRAM / "graft" / "SparkEntry.scala").is_file():
        fail(f"graft sources not found under {PROGRAM}", 2)
    spark = spark_home()
    load0 = list(os.getloadavg())
    classes, digest = build(spark)
    steal0 = cpu_steal_s()
    global T0
    T0 = time.time()  # set-up starts once the build is in place

    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    data.mkdir(parents=True)
    sizes = generate(args.workload, args.seed, data)
    cores = len(os.sched_getaffinity(0))
    extra = []
    if args.workload == "curated_ingest":
        extra = ["--batch-docs", str(sizes["batch_docs"]),
                 "--warmup-batches", str(sizes["warmup_batches"]),
                 "--window-batches", str(sizes["window_batches"])]
    if args.size:
        sizes["size_overrides"] = args.size
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"inputs={json.dumps(sizes)}", flush=True)

    res = run_harness(args, classes, spark, data, work, cores, extra)
    ops = res["ops"]
    checks = {}
    if args.workload in QUERY_WORKLOADS:
        names = sorted({o["name"] for o in ops})
        checks = oracle_check(work, data, names)
        for o in ops:
            if checks.get(o["name"]) != "ok":
                o["ok"] = False

    timed = [o for o in ops if o["phase"] != "warmup"]
    if not timed:
        fail("the timed window ran no ops")
    failed = sum(1 for o in timed if not o["ok"])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "inputs": sizes,
        "fingerprint": fingerprint(cores, res, digest, load0, steal0),
        "window_ops": [[o["name"], o["phase"], round(o["seconds"], 4),
                        o["ok"]] for o in timed],
        "failed": failed, "checks": checks, "notes": res["notes"],
        "errors": sorted({o["error"] for o in timed if o.get("error")})[:5],
    }
    lines = []
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in sorted(res["layers"].items())}
        record["per_layer"] = metrics
        record["per_layer_note"] = (
            "prefix-derived times (tokenize, inverted_index, letter_sink) "
            "are differences between separate prefix runs, so approximate; "
            "0 means the layer is not exercised by this workload")
        record["spans"] = str((work / "spans.jsonl").relative_to(ROOT))
        lines = [f"# {k} = {m['value']:.6g} {m['unit']}"
                 for k, m in metrics.items()]
    else:
        ok_times = [o["seconds"] for o in timed if o["ok"]]
        t_val, t_pct, t_n, t_beyond = tail(ok_times) if ok_times \
            else (0.0, 0.0, 0, 0)
        e2e = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(ok_times) if ok_times else 0.0,
            "op_tail_s": t_val,
            "ops_per_s": len(ok_times) / res["window_s"],
            "failed_ops_ratio": failed / len(timed),
            "peak_rss_mb": res["peak_rss_mb"],
            "write_bytes_per_input_byte": res["write_bytes_per_input_byte"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
        record["end_to_end"] = metrics
        record["op_tail"] = {"percentile": round(t_pct, 2), "samples": t_n,
                             "beyond": t_beyond}
        lines = [f"# {k} = {m['value']:.6g} {m['unit']}" for k, m in
                 metrics.items()]
        lines[2] += f"  (p{t_pct:.1f} of {t_n} ops, {t_beyond} beyond)"
    print("# record " + json.dumps(record))
    print("\n".join(lines))
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0, "attempted": len(timed), "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"],
                                "unit": m["unit"]} for m in listed}}),
        flush=True)


if __name__ == "__main__":
    main()
