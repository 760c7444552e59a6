#!/usr/bin/env python3
"""Benchmark runner for the graft EPSS engine.

Run from the repository root:

    python3 perfbench/run.py --workload epss|retrieval \
        --seed N --seconds S --trace 0|1

It compiles the engine and the benchmark with the Scala compiler shipped in
Spark's jars (perfbench/build.sh, cached by a source hash), runs one JVM with
the session conf and flags of perfbench/config.json, checks the outputs
(DuckDB oracles here, self-checks in the JVM), prints every metric by name
with its unit, and prints one JSON object as the last line of stdout.
Builds, inputs, outputs and traces stay under $CARGO_TARGET_DIR (default
.bench_build) in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("epss", "retrieval")
JVM_TIMEOUT_S = 160


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def pct(xs, p):
    """Linear-interpolated percentile, the JVM side's definition."""
    s = sorted(xs)
    x = (len(s) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    if not Path(home, "jars").is_dir():
        fail(f"no jars/ under SPARK_HOME={home}")
    return home


def build(out_root):
    """Compile when the engine or benchmark sources changed since last time."""
    if not (ROOT / "src/main/scala/graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    srcs = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(str(HERE / "src/**/*.scala"), recursive=True)
                  + [str(HERE / "build.sh")])
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(Path(s).read_bytes())
    classes = out_root / "classes"
    stamp = out_root / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return classes
    print("perfbench: compiling engine and benchmark", file=sys.stderr)
    r = subprocess.run(["bash", str(HERE / "build.sh"), str(classes)], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    stamp.write_text(h.hexdigest())
    return classes


# ------------------------------------------------------------------ oracles

def duck():
    import duckdb
    return duckdb.connect()


def store_view(con, store):
    con.execute(f"""
        CREATE OR REPLACE VIEW store AS
        SELECT CAST(date AS DATE) AS date, cve, epss, percentile
        FROM read_parquet('{store}/*/*.parquet', hive_partitioning = true)""")


def changes_sql(lo, hi, where="TRUE", drop=True):
    """The change log as the reference defines it: a lag window per CVE in
    date order over [lo - 1 day, hi], rows whose epss moved, first rows
    dropped, in (date asc, epss desc, cve desc) order."""
    if not drop:
        return f"""SELECT date, cve, epss, percentile FROM store
                   WHERE date BETWEEN DATE '{lo}' AND DATE '{hi}' AND {where}
                   ORDER BY date, epss DESC, cve DESC"""
    return f"""
        WITH s AS (SELECT * FROM store WHERE date BETWEEN DATE '{lo}' - INTERVAL 1 DAY
                   AND DATE '{hi}' AND {where}),
        l AS (SELECT *, lag(epss) OVER (PARTITION BY cve ORDER BY date) AS prev FROM s)
        SELECT date, cve, epss, percentile FROM l
        WHERE epss - prev <> 0 AND date >= DATE '{lo}'
        ORDER BY date, epss DESC, cve DESC"""


def norm_rows(rows):
    return [(str(d)[:10], c, float(e), float(p)) for d, c, e, p in rows]


def read_output(con, path, fmt):
    """Rows of one sink's output in file order."""
    if fmt == "parquet":
        files = sorted(glob.glob(f"{path}/*.parquet"))
        return con.execute(f"SELECT date, cve, epss, percentile FROM read_parquet({files})").fetchall()
    if fmt == "csv":
        files = sorted(glob.glob(f"{path}/*.csv"))
        return con.execute(f"""SELECT date, cve, epss, percentile FROM read_csv({files},
            header = true, columns = {{'date': 'VARCHAR', 'cve': 'VARCHAR',
            'epss': 'DOUBLE', 'percentile': 'DOUBLE'}})""").fetchall()
    if fmt == "json":
        return [(r["date"], r["cve"], r["epss"], r["percentile"])
                for r in json.loads(Path(path).read_text())]
    if fmt == "xlsx":
        import re
        xml = zipfile.ZipFile(path).read("xl/worksheets/sheet1.xml").decode()
        rows = []
        for row in re.findall(r"<row [^>]*>(.*?)</row>", xml)[1:]:
            cells = re.findall(r"<c [^>]*>(?:<v>([^<]*)</v>|<is><t>([^<]*)</t></is>)</c>", row)
            rows.append(tuple(v or t for v, t in cells))
        return rows
    raise ValueError(fmt)


def compare(name, got, want):
    got, want = norm_rows(got), norm_rows(want)
    if got == want:
        return {"name": name, "ok": True, "detail": f"rows={len(got)}"}
    detail = f"rows got={len(got)} want={len(want)}"
    if sorted(got) == sorted(want):
        detail += " (same rows, wrong order)"
    return {"name": name, "ok": False, "detail": detail}


def check_quantize(con, o):
    want = con.execute(changes_sql(o["min"], o["max"])).fetchall()
    got = read_output(con, o["quantize_output"], "parquet")
    res = [compare("quantize change log = DuckDB lag oracle (rows, values, order)", got, want)]
    # order-insensitive checksum as a second, independent statement of equality
    def digest(rows):
        return hashlib.sha256("\n".join(sorted(map(repr, norm_rows(rows)))).encode()).hexdigest()
    res.append({"name": "quantize change log checksum", "ok": digest(got) == digest(want),
                "detail": f"rows={len(got)} sha256={digest(got)[:16]}"})
    return res


def check_serve(con, o, seed):
    res = []
    reqs = o["requests"]
    for q in random.Random(seed).sample(reqs, min(6, len(reqs))):
        conds = []
        if "cves" in q:
            conds.append("cve IN (" + ",".join(f"'{c}'" for c in q["cves"]) + ")")
        for k, op in (("min_epss", ">="), ("max_epss", "<="),
                      ("min_percentile", ">="), ("max_percentile", "<=")):
            if k in q:
                conds.append(f"{k.split('_')[1]} {op} {q[k]!r}")
        want = con.execute(changes_sql(q["min"], q["max"], " AND ".join(conds) or "TRUE",
                                       q["drop_unchanged"])).fetchall()
        got = read_output(con, q["output"], q["format"])
        res.append(compare(f"serve request {q['i']} ({q['format']}) = DuckDB", got, want))
    if o["ingested"]:
        d = random.Random(seed + 1).choice(o["ingested"])
        feed = f"{o['feed_dir']}/epss_scores-{d}.csv.gz"
        want = con.execute(f"""SELECT DATE '{d}', cve, epss, percentile FROM read_csv('{feed}',
            skip = 1, header = true, columns = {{'cve': 'VARCHAR', 'epss': 'DOUBLE',
            'percentile': 'DOUBLE'}}) ORDER BY cve""").fetchall()
        got = con.execute(f"SELECT * FROM store WHERE date = DATE '{d}' ORDER BY cve").fetchall()
        res.append(compare(f"ingested {d} = its feed file", got, want))
    return res


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cfg_path = HERE / "config.json"
    cfg = json.loads(cfg_path.read_text())
    out_root = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    out_root.mkdir(parents=True, exist_ok=True)
    home = spark_home()
    classes = build(out_root)

    work = out_root / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = out_root / "traces"
    traces.mkdir(exist_ok=True)
    result = work / "result.json"
    cmd = ["java", *cfg["jvm"], f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{home}/jars/*", "perfbench.Main",
           "--config", str(cfg_path), "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
           "--trace-dir", str(traces), "--result", str(result)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s; log: {work / 'jvm.log'}", 1)
    if proc.returncode != 0 or not result.is_file():
        sys.stderr.write(Path(work / "jvm.log").read_text()[-4000:])
        fail(f"JVM exited {proc.returncode}; log: {work / 'jvm.log'}", 1)
    r = json.loads(result.read_text())
    for line in Path(work / "jvm.log").read_text().splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)

    checks = list(r["checks"])
    try:
        if a.workload == "epss" and r["job_ms"]:
            con = duck()
            store_view(con, r["oracle"]["store"])
            checks += check_quantize(con, r["oracle"])
            checks += check_serve(con, r["oracle"], a.seed)
    except Exception as e:  # an oracle that cannot run is a failed check
        checks.append({"name": "oracle ran", "ok": False, "detail": f"{type(e).__name__}: {e}"})

    attempted, failed = r["attempted"], r["failed"]
    prim = r["primary_ms"]
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"master={cfg['spark']['master']} nproc={cfg['nproc']} clients=1 (closed loop)")
    print(f"ops attempted={attempted} failed={failed} per series={json.dumps(r['ops'])}")
    print(f"run phases (s since session start): {json.dumps({k: round(v, 1) for k, v in r['phases_s'].items()})}")
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for f in r["failures"]:
        print(f"failure: {f}")
    correct = all(c["ok"] for c in checks) and bool(prim)

    if a.trace:
        t = r["trace"]
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(t["metrics"].items())
                   if k in PER_LAYER}
        for k in PER_LAYER:
            metrics.setdefault(k, {"value": 0.0, "unit": unit_of(k)})
        print(f"trace file: {t['file']}")
    else:
        writes, jobs = r["write_ms"], r["job_ms"]
        exact = [c for c in checks if "DuckDB" in c["name"] or "oracle" in c["name"]]
        quality = (r["answer_quality"] if a.workload == "retrieval"
                   else sum(c["ok"] for c in exact) / max(len(exact), 1))
        values = {
            "setup_s": (statistics.median(r["setup_s"]), "s"),
            "op_p50_ms": (statistics.median(prim) if prim else float("nan"), "ms"),
            "write_p50_ms": (statistics.median(writes) if writes else float("nan"), "ms"),
            "job_p50_ms": (statistics.median(jobs) if jobs else float("nan"), "ms"),
            "disk_bytes_ratio": (r["disk_bytes_ratio"], "ratio"),
            "answer_quality": (quality, "ratio"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
            "success_ratio": (1.0 - failed / max(attempted, 1), "ratio"),
        }
        print(f"series {r['primary']}: samples={len(prim)}; write path: samples={len(writes)}; "
              f"batch job: samples={len(jobs)}; "
              f"setup reps={[round(x, 3) for x in r['setup_s']]}")
        print(f"setup_s = {values['setup_s'][0]!r} s")
        print(f"error_rate = {failed / max(attempted, 1)!r} ratio")
        print(f"peak_rss_mb = {r['peak_rss_mb']!r} MB")
        for k, v in r["named"].items():
            print(f"{k} = {v['value']!r} {v['unit']}")
        tail = {"epss": "serve_query_tail_ms", "retrieval": "retrieval_query_tail_ms"}[a.workload]
        if not any(k.startswith(tail) for k in r["named"]):
            print(f"{tail} = n/a ms ({len(prim)} samples: no percentile above the median "
                  f"has 10 samples above it before 21 samples)")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']!r} {v['unit']}")

    for big in ("store", "feeds", "out", "corpus", "kept", "ivfpq", "spark-local", "tmp",
                "quantize-out.parquet"):
        shutil.rmtree(work / big, ignore_errors=True)
    # a metric with no sample (every op of its kind failed) prints as null
    for v in metrics.values():
        if v["value"] != v["value"]:
            v["value"] = None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


# BENCHMARK.json's per-layer metrics (the traced run): name -> unit. Each is
# the median over the traced ops that touch the layer, 0 where none does.
PER_LAYER = {
    "sources.max_date_ms": "ms", "sources.scan_metadata_ms": "ms",
    "sources.files_read": "count", "sources.partitions_read": "count",
    "sources.rows_examined_per_row_returned": "ratio", "sources.scan_bytes": "bytes",
    "sources.ingest_ms": "ms", "sources.ingest_bytes_written": "bytes",
    "sources.ingest_files_written": "count", "sources.jobs": "count", "sources.job_ms": "ms",
    "engine.shuffle_write_bytes": "bytes", "engine.shuffle_read_bytes": "bytes",
    "engine.spill_bytes": "bytes", "engine.exchanges": "count", "engine.sorts": "count",
    "engine.changed_ratio": "ratio", "engine.sink_ms.csv": "ms", "engine.sink_ms.json": "ms",
    "engine.sink_ms.parquet": "ms", "engine.sink_ms.xlsx": "ms", "engine.sink_tasks": "count",
    "engine.jobs": "count", "engine.job_ms": "ms",
    "operators.dedup_ms": "ms", "operators.sparse_build_ms": "ms",
    "operators.ivfpq_build_ms": "ms", "operators.lsh_candidates": "count",
    "operators.lsh_precision": "ratio", "operators.par_overlap_ms": "ms",
    "operators.query_postings_ms": "ms", "operators.hybrid_search_ms": "ms",
    "operators.barrier_jobs": "count", "operators.jobs": "count", "operators.job_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_ms": "ms", "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.core_busy_ratio": "ratio",
    "trace.traced_p50_ms": "ms", "trace.untraced_p50_ms": "ms", "trace.overhead_ms": "ms",
}


def unit_of(k):
    return PER_LAYER[k]


if __name__ == "__main__":
    main()
