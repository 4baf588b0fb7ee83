#!/usr/bin/env python3
"""perfbench: seeded end-to-end and per-layer benchmark of the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload holdings_etl --seed 1 --seconds 10 --trace 0

It builds the engine from ``src/main/scala`` and the harness from
``perfbench/src`` into ``.bench_build/`` (cached by source hash), generates
the workload's inputs from the seed (``perfbench/gen.py``), runs one JVM on
``local[4]`` with one client thread (``perfbench/src/perfbench/PerfBench.scala``),
checks every op's output against its DuckDB oracle with the comparison
rules of ``tools/check.py``, and prints a report. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See ``perfbench/README.md``.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

CPUS = 4
HEAP = "3g"
WORKLOADS = list(gen.WORKLOADS)
TABLES = list(gen.SCHEMAS)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("docs_per_s", "1/s"), ("pass_cpu_s", "s"),
              ("heap_live_mb", "MB")]

# (name, unit) of every per-layer metric a traced run prints; the layer is
# the name's prefix. Per-pass values are medians over the traced passes.
PER_LAYER = [
    ("session.start_s", "s"),
    ("staging.build_s", "s"), ("staging.builds_n", "count"), ("staging.probe_s", "s"),
    ("sources.render_s", "s"), ("sources.index_s", "s"), ("sources.doc_mb", "MB"),
    ("extract.parse_s", "s"), ("extract.kernel_s", "s"), ("extract.kernel_mb_per_s", "MB/s"),
    ("extract.rows_n", "count"),
    ("extract.kernel_stages_n.x_extract_holdings", "count"),
    ("extract.kernel_stages_n.x_pipeline_e2e", "count"),
    ("pin.extract_s", "s"), ("pin.readback_s", "s"),
    ("sinks.csv_write_s", "s"), ("sinks.rows_per_s", "1/s"), ("sinks.files_n", "count"),
    ("sinks.mb_written", "MB"),
    ("op.construct_s", "s"), ("op.execute_s", "s"), ("op.cpu_s", "s"), ("op.jobs_n", "count"),
    ("op.read_p50_s", "s"), ("op.read_p90_s", "s"), ("op.write_p50_s", "s"),
    ("plans.plan_s", "s"), ("driver.nojob_s", "s"),
    ("spark.jobs_n", "count"), ("spark.tasks_n", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.scheduler_delay_s", "s"),
    ("spark.core_idle_frac", "fraction"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.persisted_rdds_n", "count"), ("spark.storage_mb", "MB"),
    ("trace.overhead_wall", "ratio"), ("trace.overhead_cpu", "ratio"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(f"perfbench: {msg}")
    sys.exit(2)


def spark_jars() -> list:
    """Jars of $SPARK_HOME, else of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    pyspark = importlib.util.find_spec("pyspark")
    if not home and pyspark is not None:
        home = str(Path(pyspark.origin).parent)
    jars = sorted(glob.glob(f"{home}/jars/*.jar")) if home else []
    if not jars:
        fail("no Spark distribution found: set SPARK_HOME")
    return jars


def tree_hash(files) -> str:
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(str(f).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()[:16]


def compile_scala(sources, out: Path, classpath: str) -> None:
    """scalac from the Spark distribution's own compiler jar; cached by hash."""
    if (out / "_OK").exists():
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath]
    cmd += [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        fail(f"compile failed for {out.name}")
    (out / "_OK").write_text("ok\n")
    log(f"built {out.name} in {time.time() - t0:.1f}s")


def build(build_dir: Path) -> str:
    """Returns the JVM classpath: engine classes, harness classes, Spark jars."""
    engine_src = sorted(Path("src/main/scala").rglob("*.scala"))
    harness_src = sorted((HERE / "src").rglob("*.scala"))
    jars = ":".join(spark_jars())
    engine = build_dir / f"engine-{tree_hash(engine_src)}"
    compile_scala(engine_src, engine, jars)
    harness = build_dir / f"harness-{tree_hash(engine_src + harness_src)}"
    compile_scala(harness_src, harness, f"{engine}:{jars}")
    return f"{harness}:{engine}:{jars}"


def wipe_stages(data_dir: Path) -> None:
    """The engine stages under /tmp/graft_stage keyed to this run's input."""
    key = "".join(c if c.isalnum() or c == "." else "_" for c in str(data_dir))
    for p in Path("/tmp/graft_stage").glob(f"*{key}*"):
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)


def load_check_module():
    """tools/check.py's comparison rules, imported unmodified."""
    spec = importlib.util.spec_from_file_location("graft_check", "tools/check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(raw: dict, data_dir: Path, run_dir: Path) -> dict:
    """{op: verdict} with verdict in ok | rows-only | FAIL ... ."""
    import duckdb
    check = load_check_module()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for op in sorted(raw["checked_ops"]):
        if op in raw["failed_ops"]:
            verdicts[op] = "FAIL: query raised"
            continue
        spark_df = con.sql(f"FROM '{run_dir}/check/{op}/*.parquet'").df()
        sql = raw["oracle_sql"].get(op)
        if sql is None:
            verdicts[op] = "rows-only" if len(spark_df) else "FAIL: empty"
            continue
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                ok = check.compare(op, spark_df, con.sql(sql).df())
        except Exception as e:  # oracle SQL error
            ok, buf = False, io.StringIO(f"oracle error: {e}")
        verdicts[op] = "ok" if ok else buf.getvalue().strip() or "FAIL"
    return verdicts


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def input_docs(workload: str, data_dir: Path) -> int:
    import duckdb
    con = duckdb.connect()
    if workload == "corpus_prep":
        return con.sql(f"SELECT count(*) FROM '{data_dir}/documents.parquet'").fetchone()[0]
    # one filing per customer key that has orders
    return con.sql(f"SELECT count(DISTINCT o_custkey) FROM '{data_dir}/orders.parquet'").fetchone()[0]


def end_to_end(raw: dict, docs: int) -> dict:
    passes = [p for p in raw["passes"] if not p["traced"]]
    return {
        "setup_s": raw["setup_s"],
        "docs_per_s": docs / statistics.median(p["wall_s"] for p in passes),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        # after the first timed pass: later passes add whatever each call
        # leaks, and how many passes fit the window varies
        "heap_live_mb": raw["passes"][0]["heap_live_mb"],
    }


def latency(ops: list) -> dict:
    """Per-kind op latency (reads and writes) with sample counts."""
    out = {}
    for kind in ("read", "write"):
        xs = [o["wall_s"] for o in ops if o["kind"] == kind]
        if xs:
            out[kind] = {"n": len(xs), "p50_s": pct(xs, 0.5), "p90_s": pct(xs, 0.9)}
    return out


def per_layer(raw: dict, run_dir: Path) -> tuple:
    """(metrics, self-time table rows)."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    tr_ops = [o for o in raw["ops"] if any(o["pass"] == p["pass"] for p in traced)]
    by_op = raw["spark"]["by_op"]

    def per_pass(f):
        return statistics.median(sum(f(o) for o in tr_ops if o["pass"] == p["pass"]) for p in traced)

    def nojob(o):
        a, b = o["start_ms"], o["start_ms"] + o["wall_s"] * 1e3
        spans = sorted((max(a, x), min(b, y)) for x, y in by_op.get(o["tag"], {}).get("job_spans", []))
        covered, end = 0.0, a
        for x, y in spans:
            x = max(x, end)
            if y > x:
                covered += y - x
                end = y
        return max(0.0, (b - a) - covered) / 1e3

    m = {"session.start_s": raw["session_start_s"],
         "staging.build_s": sum(b["s"] for b in raw["stage_builds"]),
         "staging.builds_n": len(raw["stage_builds"])}
    m.update(raw["probes"])
    m["op.construct_s"] = per_pass(lambda o: o["construct_s"])
    m["plans.plan_s"] = per_pass(lambda o: o["plan_s"])
    m["op.execute_s"] = per_pass(lambda o: o["execute_s"])
    m["op.cpu_s"] = per_pass(lambda o: o["cpu_s"])
    m["op.jobs_n"] = per_pass(lambda o: by_op.get(o["tag"], {}).get("jobs_n", 0))
    m["driver.nojob_s"] = per_pass(nojob)
    for kind, d in latency(tr_ops).items():
        m[f"op.{kind}_p50_s"] = d["p50_s"]
        if kind == "read":
            m["op.read_p90_s"] = d["p90_s"]
    for k, v in raw["spark"].items():
        if k not in ("by_op", "passes_n"):
            m[f"spark.{k}"] = v
    for k in ("wall", "cpu"):
        m[f"trace.overhead_{k}"] = (statistics.median(p[f"{k}_s"] for p in traced)
                                    / statistics.median(p[f"{k}_s"] for p in untraced))
    return m, self_times(run_dir / "spans.jsonl")


def self_times(path: Path) -> list:
    """[(layer, self seconds, spans)]: span duration minus its children's."""
    spans = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    table = {}
    for s in spans:
        own = (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
        t, n = table.get(s["layer"], (0.0, 0))
        table[s["layer"]] = (t + own, n + 1)
    return sorted(((k, t, n) for k, (t, n) in table.items()), key=lambda r: -r[1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not all(Path(f).is_file() for f in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py")):
        fail("run from the root of a graft checkout (src/main/scala and tools/check.py are missing)")
    build_dir = Path(".bench_build").resolve()
    classpath = build(build_dir)

    tag = f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}"
    data_dir = build_dir / "data" / tag
    run_dir = build_dir / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    gen.generate(str(data_dir), args.seed, args.workload)
    docs = input_docs(args.workload, data_dir)

    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={build_dir / 'tmp'}",
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS + [
        "-cp", classpath, "perfbench.PerfBench", args.workload, str(data_dir), str(run_dir),
        str(args.seconds), str(args.trace), str(args.seed), str(CPUS)]
    (build_dir / "tmp").mkdir(parents=True, exist_ok=True)
    wipe_stages(data_dir)  # cold staging for this input only
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=150)
    except subprocess.TimeoutExpired:
        proc = None
    finally:
        wipe_stages(data_dir)
    if proc is None or proc.returncode != 0 or not (run_dir / "raw.json").exists():
        shutil.rmtree(data_dir, ignore_errors=True)
        fail(f"benchmark JVM failed ({'timeout' if proc is None else proc.returncode})")
    raw = json.loads((run_dir / "raw.json").read_text())
    verdicts = oracle_check(raw, data_dir, run_dir)

    bad_ops = {op for op, v in verdicts.items() if not v.startswith(("ok", "rows-only"))}
    attempted = len(raw["ops"]) + len(verdicts)
    failed = sum(1 for o in raw["ops"] if not o["ok"] or o["op"] in bad_ops) + len(bad_ops)

    e2e = end_to_end(raw, docs)
    lat = latency([o for o in raw["ops"] if o["pass"] in
                   {p["pass"] for p in raw["passes"] if not p["traced"]}])
    print(f"== perfbench {args.workload} seed={args.seed} cpus={CPUS} trace={args.trace} "
          f"docs={docs} passes={len(raw['passes'])} ops={len(raw['ops'])}")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:12.4f} {dict(END_TO_END)[k]}")
    for kind, d in lat.items():
        print(f"  {kind}_p50_s      {d['p50_s']:12.4f} s   ({kind}_p90_s {d['p90_s']:.4f} s, n={d['n']})")
    print(f"  error_rate     {failed / attempted:12.4f}    ({failed} of {attempted} ops)")
    print("  drift (per pass): heap_live_mb / spark.storage_mb / spark.persisted_rdds_n / wall_s")
    for p in raw["passes"]:
        print(f"    pass {p['pass']:>3} {p['heap_live_mb']:8.1f} {p['storage_mb']:8.1f} "
              f"{p['persisted_rdds_n']:4d} {p['wall_s']:8.3f}")
    print("  oracle verdicts:")
    for op, v in verdicts.items():
        print(f"    {op:<26} {v}")

    if args.trace:
        metrics, table = per_layer(raw, run_dir)
        print("  self time by layer (traced window and probes):")
        for layer, t, n in table:
            print(f"    {layer:<12} {t:10.4f} s  spans={n}")
        print("  per query (traced passes, medians): construct_s plan_s execute_s cpu_s jobs_n")
        by_op = raw["spark"]["by_op"]
        traced = {p["pass"] for p in raw["passes"] if p["traced"]}
        for q in sorted({o["op"] for o in raw["ops"]}):
            os_ = [o for o in raw["ops"] if o["op"] == q and o["pass"] in traced]
            if os_:
                med = lambda f: statistics.median(f(o) for o in os_)
                print(f"    {q:<26} {med(lambda o: o['construct_s']):8.3f} {med(lambda o: o['plan_s']):8.3f} "
                      f"{med(lambda o: o['execute_s']):8.3f} {med(lambda o: o['cpu_s']):8.3f} "
                      f"{med(lambda o: by_op.get(o['tag'], {}).get('jobs_n', 0)):6.1f}")
        for q in ("x_extract_holdings", "x_pipeline_e2e"):
            print(f"  extract.kernel_stages_n {q}: {metrics[f'extract.kernel_stages_n.{q}']}")
        print(f"  tracing overhead (traced / untraced median pass): "
              f"wall {metrics['trace.overhead_wall']:.3f}, cpu {metrics['trace.overhead_cpu']:.3f}")
        print(f"  spark.spill_mb {metrics['spark.spill_mb']:.3f} MB per pass, "
              f"spark.failed_tasks_n {metrics['spark.failed_tasks_n']}")
        result = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER}
    else:
        result = {k: {"value": v, "unit": dict(END_TO_END)[k]} for k, v in e2e.items()}

    shutil.rmtree(data_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
