#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. It compiles the engine and the harness
(perfbench/build.py), generates the workload's fixture from the seed into
.bench_build/fixtures (cached), runs the harness in one JVM on local[nproc]
with one closed-loop client, checks every output outside the timed region
(DuckDB oracles, fingerprints stable across two executions and across runs,
row-read aggregates, nested fields included, against DuckDB), and prints one
JSON object as the last line of stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. `--selftest` times q10, q33 and q41 once,
traced, and exits non-zero if the plans their timed action executed lost
the final sort, an output column or an aggregate.

Workloads (perfbench/RESULTS.md has sizes, metric definitions and figures):
  rowread  a seeded two-file dataset in the reference reader's test shape,
           read through ParquetRowReader: getRows(), getRows(cols) and
           tuned(..).getRows(cols).
  adhoc    one query of every query module plus q40, q41, q173 and q43,
           fully evaluated on a generated star schema, q21's Structured
           Streaming twin, and row reads of lineitem; the seed orders the
           warm passes.
"""
import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

BUILD = build.BUILD_DIR

# The reference's bulk shape has 10,000 rows of 50 fields per file; the
# dataset is made smaller by having fewer files, not fewer rows per file.
ROWREAD = dict(files=2, rows_per_file=10000, fields=50)
ADHOC_SF = 0.005
DATA_SEED = 42

ADHOC_QUERIES = [
    "q10", "q33", "q40", "q41", "q173",  # Relational, Text, Sketch: plans count() cut short
    "q14",    # WindowQueries
    "q20",    # ScalarFuncQueries
    "q21",    # StreamingQueries
    "q25",    # SimilarityQueries
    "q27",    # UdfQueries
    "q211",   # SinkQueries: a partitioned layout, then CDC batches applied to it
    "q39",    # MultimodalQueries
    "q82",    # AdvancedQueries
    "q83",    # TrainingDataQueries
    "q122",   # GraphQueries
    "q190",   # EvalQueries
    "q203",   # ExperimentQueries
    "q227",   # CurationQueries
    "q43",    # as-of join through graft.plans.AsOfJoin's own plan node
    "stream:q21",  # q21's Structured Streaming twin, run to completion
]
# A row read of lineitem lasts 0.1 to 0.3 s, so each appears four times a
# pass to give its rate enough read time.
ADHOC_ROWS = ["rows:all:lineitem.parquet",
              "rows:proj:lineitem.parquet:l_orderkey+l_partkey+l_quantity+l_extendedprice"] * 4

PLANCHECK = ["q10", "q33", "q41"]

E2E = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("cold_gmean_s", "s"), ("warm_p50_s", "s"),
    ("rows_per_s", "rows/s"), ("proj_rows_per_s", "rows/s"),
    ("ok_frac", "ratio"),
]
PER_LAYER_UNITS = {
    "_s": "s", "_bytes": "bytes", "_rows": "rows", "_ns_per_row": "ns/row",
    "_ns_per_input_row": "ns/row", "_share": "ratio", "_ratio": "ratio", "_amp": "ratio",
    "_rows_per_s": "rows/s", "_mb": "MB",
}


def layer_unit(name):
    name = name.removesuffix("_cold")
    for suffix, unit in sorted(PER_LAYER_UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem_gb():
    """Half of physical memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def run_quiet(cmd, **kw):
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, **kw)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-3000:])
        raise SystemExit(f"perfbench: {' '.join(cmd[:3])} failed")


def fixture(root, workload, seed):
    """Generate (or reuse) the workload's inputs; return (dir, seconds spent)."""
    base = os.path.join(root, BUILD, "fixtures")
    if workload == "rowread":
        name = "rowread-{files}x{rows_per_file}x{fields}-".format(**ROWREAD) + str(seed)
    else:
        name = f"sf{ADHOC_SF}-{DATA_SEED}"
    out = os.path.join(base, name)
    if os.path.exists(os.path.join(out, ".ok")):
        return out, 0.0
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    if workload == "rowread":
        # keep the cache small: one dataset per recent seed, at most four
        olds = sorted(glob.glob(os.path.join(base, "rowread-*")), key=os.path.getmtime)
        for old in olds[:-3]:
            shutil.rmtree(old, ignore_errors=True)
        run_quiet([sys.executable, os.path.join(HERE, "gen_rows.py"), out, str(seed),
                   str(ROWREAD["files"]), str(ROWREAD["rows_per_file"]), str(ROWREAD["fields"])])
    else:
        run_quiet([sys.executable, os.path.join(HERE, "gen_sf.py"), out, str(ADHOC_SF), str(DATA_SEED)])
    open(os.path.join(out, ".ok"), "w").close()
    return out, time.monotonic() - t0


def operations(workload, data):
    if workload == "rowread":
        with open(os.path.join(data, "_meta.json")) as fh:
            fields = json.load(fh)["fields"]
        by_shape = {}
        for f, shape in fields.items():
            by_shape.setdefault(shape, []).append(f)
        proj = by_shape["string"][:2] + by_shape["int"][:2] + by_shape["float"][:1]
        # a projected read is short (about 0.3 s), so it runs four times a
        # pass to give its rate enough samples
        return ["rows:all:.", "rows:tuned:.:" + "+".join(proj)] + ["rows:proj:.:" + "+".join(proj)] * 4
    return ADHOC_QUERIES + ADHOC_ROWS


def java_cmd(classes, args, work, mem_gb):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{mem_gb}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return cmd + ["-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")


# ---------------------------------------------------------------- checks

# Cached answers live beside the fixture's files; Spark's file listing skips
# names that start with "_", so a row read of the fixture directory does not.
CHECKS = "_checks"

def duck(data):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_mismatch(con, data, name, sql, out):
    """Compare the query's written result with DuckDB's answer, the way the
    engine's oracle gate does: columns by sorted name, dtypes, shape, values.
    DuckDB's answer is cached per fixture."""
    import pandas as pd
    cache = os.path.join(data, CHECKS, "oracle", name + ".pkl")
    if os.path.exists(cache):
        o = pd.read_pickle(cache)
    else:
        o = con.sql(sql).fetchdf()
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        o.to_pickle(cache)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    if not files:
        return "no output written"
    s = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    s, o = s[sorted(s.columns)], o[sorted(o.columns)]
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs oracle {list(o.columns)}"
    if s.shape != o.shape:
        return f"shape {s.shape} vs oracle {o.shape}"
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            return f"dtype of {c}: {s[c].dtype} vs oracle {o[c].dtype}"
    neq = s.values != o.values
    if neq.any():
        r, c = [int(x[0]) for x in neq.nonzero()]
        return f"row {r} column {s.columns[c]}: {s.iloc[r, c]!r} vs oracle {o.iloc[r, c]!r}"
    return None


def steps(path):
    """`field_7[].sub_field_4[]` -> ['field_7', '[]', 'sub_field_4', '[]']"""
    return [t for t in re.split(r"(\[\]|\.)", path) if t and t != "."]


AGG_SQL = {"sum": "sum({})", "fsum": "sum({})", "len": "sum(length({}))",
           "elems": "sum(len({}))", "count": "count({})"}


def row_truth(con, data, name, path, cols, aggs):
    """DuckDB's row count and aggregates over the files a row read covered,
    for the (path, kind) pairs the read reported; cached per fixture. A path
    through lists is computed over the unnested elements."""
    cache = os.path.join(data, CHECKS, "rowtruth.json")
    truth = json.load(open(cache)) if os.path.exists(cache) else {}
    key = name + "|" + "+".join(cols)
    if key not in truth:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        glob_ = f"{path}/*.parquet" if os.path.isdir(path) else path
        src = f"read_parquet('{glob_}')"
        vals = {"rows": con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]}
        # group the aggregates by the list unnesting their path goes through
        by_source = {}
        for p, kind in aggs:
            st = steps(p)
            cut = max([i for i, t in enumerate(st) if t == "[]"], default=-1)
            by_source.setdefault(tuple(st[:cut + 1]), []).append((p, kind, st[cut + 1:]))
        for prefix, items in by_source.items():
            frm, expr, depth = src, None, 0
            for t in prefix:
                if t == "[]":
                    depth += 1
                    frm = f"(SELECT unnest({expr}) AS u{depth} FROM {frm})"
                    expr = f"u{depth}"
                else:
                    expr = f'"{t}"' if expr is None else f"struct_extract({expr}, '{t}')"
            exprs = []
            for p, kind, rest in items:
                e = expr
                for t in rest:
                    e = f'"{t}"' if e is None else f"struct_extract({e}, '{t}')"
                exprs.append(AGG_SQL[kind].format(e))
            row = con.sql(f"SELECT {', '.join(exprs)} FROM {frm}").fetchone()
            for (p, kind, _), v in zip(items, row):
                vals[p + "|" + kind] = float(v) if isinstance(v, float) else int(v or 0)
        truth[key] = vals
        with open(cache, "w") as fh:
            json.dump(truth, fh)
    return truth[key]


def check(result, data):
    """Return {operation name: reason} for every wrong output."""
    con = duck(data)
    bad = {}
    fp_path = os.path.join(data, CHECKS, "fingerprints.json")
    fps = json.load(open(fp_path)) if os.path.exists(fp_path) else {}
    row_ops = {o["name"]: o for o in result["row_ops"]}
    truths = {}
    for name, c in result["checks"].items():
        if "error" in c:
            bad[name] = "check execution threw: " + c["error"]
        elif "oracle" in c:
            why = oracle_mismatch(con, data, name, c["oracle"], c["out"])
            if why:
                bad[name] = "oracle: " + why
        elif "fingerprints" in c:
            first, second = c["fingerprints"]
            if first != second:
                bad[name] = f"fingerprints of two executions differ: {first} vs {second}"
            elif fps.setdefault(name, first) != first:
                bad[name] = f"fingerprint {first} differs from an earlier run's {fps[name]}"
        else:
            op = row_ops[name]
            want = truths[name] = row_truth(con, data, name, op["path"], op["cols"],
                                            [(p, k) for p, k, _ in c["aggs"]])
            got = {"rows": c["rows"], **{p + "|" + k: v for p, k, v in c["aggs"]}}
            for k, w in want.items():
                g = got.get(k)
                if g is None or abs(g - w) > 1e-9 * max(1.0, abs(w)):
                    bad[name] = f"{k}: read {g}, DuckDB {w}"
                    break
    os.makedirs(os.path.dirname(fp_path), exist_ok=True)
    with open(fp_path, "w") as fh:
        json.dump(fps, fh, indent=0, sort_keys=True)
    for r in result["ops"]:
        if r["error"] is None and r["op"] in truths and r["rows"] != truths[r["op"]]["rows"]:
            bad.setdefault(r["op"], f"pass {r['pass']} read {r['rows']} rows, DuckDB {truths[r['op']]['rows']}")
    for e in result["plan_errors"]:
        bad.setdefault("plancheck", e)
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["rowread", "adhoc"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t_start = time.monotonic()
    root = os.getcwd()
    classes, build_s = build.build(root)
    workload = "adhoc" if a.selftest else a.workload
    data, gen_s = fixture(root, workload, a.seed)
    log(f"build {build_s:.1f} s, fixture {os.path.basename(data)} generation {gen_s:.1f} s")
    deadline = t_start + (890 if build_s or gen_s else 175)

    tag = "selftest" if a.selftest else f"{workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(root, BUILD, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(root, BUILD, "trace", f"spans-{tag}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    args = dict(workload=workload, seed=a.seed, seconds=a.seconds, trace=a.trace, data=data,
                work=work, out=out, spans=spans, cores=cores())
    if a.selftest:
        args.update(mode="plancheck", ops=",".join(PLANCHECK))
    else:
        args.update(ops=",".join(operations(workload, data)),
                    plancheck=",".join(PLANCHECK) if workload == "adhoc" and a.trace else "")
    try:
        run_jvm(java_cmd(classes, args, work, driver_mem_gb()), os.path.join(work, "jvm.log"), deadline)
        with open(out) as fh:
            result = json.load(fh)
        bad = {} if a.selftest else check(result, data)
    finally:
        for d in ("tmp", "check", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if a.selftest:
        for e in result["plan_errors"]:
            log("plan check: " + e)
        print(json.dumps({"plan_errors": result["plan_errors"]}))
        sys.exit(1 if result["plan_errors"] else 0)

    failed = sum(1 for r in result["ops"] if r["error"] is not None or r["op"] in bad)
    attempted = len(result["ops"])
    for r in result["ops"]:
        if r["error"] is not None:
            bad.setdefault(r["op"], r["error"])
    for name, why in sorted(bad.items()):
        log(f"FAILED {name}: {why}")
    m = result["metrics"]
    m["ok_frac"] = 1.0 - failed / attempted
    log(f"{attempted} operations, {failed} failed; cold n={m['n.cold_ops']}, "
        f"warm n={m['n.warm_ops']} over {m['n.warm_passes']:.0f} passes; "
        f"passes {', '.join(f'{x:.2f}' for x in result['passes'])} s; "
        f"set-up {result['setup_s']:.2f} s; "
        f"compiles per pass {result['compiles']}; retained heap MB {result['heap_mb']}")
    if a.trace:
        names = [k for k in m if "." in k and not k.startswith("n.")]
        metrics = {k: {"value": m[k], "unit": layer_unit(k)} for k in names}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
