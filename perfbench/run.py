#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <relational|ingest> --seed N \
      --seconds S --trace 0|1

Steps: build the harness against graft's sources (cached by a source hash),
generate the workload's inputs from the seed (cached per seed), run the
measured JVM (perfbench/src/main/scala/perfbench/Main.scala), check its
outputs against an independent computation, and print one JSON object as the
last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a run that attaches the tracing listeners. Progress and
diagnostics go to stderr; the JVM's own log goes to perfbench/.work/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
# workload -> (data set kind, its operations)
WORKLOADS = {
    "relational": ("base", ["q1_pricing_summary", "q14_promo_share", "q_asof_join",
                            "q_window_tumbling", "q_insert_ignore_posts",
                            "q_comments_of_yesterday_posts"]),
    "ingest": ("ingest", ["posts_job", "comments_job", "stream"]),
}
DATA_KEEP = 3           # data sets kept per kind; older ones are pruned
RUN_LIMIT_S = 170       # the whole run, build excluded
BUILD_LIMIT_S = 700
# A small initial heap that grows on demand, so that the resident set and the
# GC time follow what graft allocates rather than a fixed heap size.
HEAP_OPTS = ["-Xms128m", "-Xmx1g"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("face_s_geomean", "s"),
              ("job_s_p50", "s"), ("peak_rss_mb", "MB")]
LAYER_UNITS = {
    "tables.open_s": "s", "tables.schema_jobs": "count",
    "construct.s": "s", "construct.jobs": "count", "construct.persisted_mb": "MB",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.tasks_per_job": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.slot_busy": "ratio", "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "pipeline.spark_jobs_per_call": "count", "sink.output_files": "count",
    "sink.output_mb": "MB", "sink.target_files": "count",
    "stream.batches": "count", "stream.wall_s": "s", "stream.trigger_s": "s",
    "stream.addbatch_s": "s", "stream.commit_s": "s", "stream.planning_s": "s",
    "jvm.gc_s": "s", "jvm.heap_after_gc_mb": "MB",
    "trace.pass_s": "s", "trace.face_s_geomean": "s",
}


def op_layer_units():
    """Per-operation layer metrics of every workload's operations."""
    out = {}
    for w in WORKLOADS:
        for op in WORKLOADS[w][1]:
            out[f"op.{op}.s"] = "s"
            if w != "ingest":
                out[f"op.{op}.construct_s"] = "s"
            out[f"op.{op}.jobs"] = "count"
    return out


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    """Task slots: one core stays with the driver thread, the JIT and the GC,
    which keeps the latency-bound passes steadier on a 4-core machine."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


# ------------------------------------------------------------------ build

def spark_home():
    """The Spark installation whose jars graft compiles and runs against:
    SPARK_HOME, else the first `spark-submit` on the PATH that sits next to a
    `jars` directory."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    for d in os.environ.get("PATH", "").split(os.pathsep):
        cand = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(cand, "jars")):
            return cand
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")


def source_hash():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft's sources and the harness unless the classes match."""
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(CLASSES):
        return
    log("building the harness and graft with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env["SPARK_HOME"] = spark_home()
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")


# ------------------------------------------------------------------ data

def dataset(kind, seed):
    root = os.path.join(BENCH, ".data")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{kind}-s{seed}")
    t0 = time.time()
    gen.ensure(kind, seed, path)
    os.utime(path)
    log(f"inputs {kind} seed {seed} ready in {time.time() - t0:.1f} s")
    mine = sorted((d for d in os.listdir(root)
                   if d.startswith(kind + "-s") and not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for old in mine[:-DATA_KEEP]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return path


# ------------------------------------------------------------------ JVM

def run_jvm(workload, data, work, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        HEAP_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{CLASSES}{os.pathsep}{spark_jars}", "perfbench.Main",
        "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(cores())]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                              timeout=max(10, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: measured JVM exited {proc.returncode}; see {work}/jvm.log")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def type_class(t):
    """Type classes the compare keeps apart: BIGINT, DOUBLE and DECIMAL differ."""
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "int"
    if t in ("UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "HUGEINT", "UHUGEINT"):
        return t.lower()
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


def oracle_diff(con, got_dir, sql):
    """None if the written result equals the oracle's rows, else why not."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                f"read_parquet('{got_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {sql}")
    g = {r[0]: r[1] for r in con.execute("DESCRIBE got").fetchall()}
    e = {r[0]: r[1] for r in con.execute("DESCRIBE exp").fetchall()}
    if sorted(g) != sorted(e):
        return f"columns {sorted(g)} vs {sorted(e)}"
    for c in g:
        if type_class(g[c]) != type_class(e[c]):
            return f"column {c}: {g[c]} vs oracle {e[c]}"
    cols = ", ".join(f'"{c}"' for c in sorted(g))
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
    if n_got != n_exp:
        return f"{n_got} rows vs oracle {n_exp}"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                        f"SELECT {cols} FROM exp)").fetchone()[0]
    return None if extra == 0 else f"{extra} of {n_got} rows differ from the oracle"


def check_faces(data, work, checks):
    """Each written face result against the DuckDB oracle over the same
    parquet. Returns [(op name, ok, wrong, why)]."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, name)}')")
    out = []
    for c in checks:
        n = c["name"]
        if not c["ok"]:
            out.append((n, False, False, c["error"]))
            continue
        why = oracle_diff(con, os.path.join(work, "results", n), oracles[n]) \
            if n in oracles else "no oracle SQL"
        out.append((n, why is None, why is not None, why))
    return out


def check_ingest(data, work, checks):
    """The last pass's targets against what the generator computed."""
    with open(os.path.join(data, "expect.json")) as f:
        exp = json.load(f)
    with open(os.path.join(work, "targets.json")) as f:
        tgt = json.load(f)
    con = duckdb.connect()
    for k, path in tgt.items():
        con.execute(f"CREATE VIEW {k} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    out = [(c["name"], c["ok"], not c["ok"], c["error"]) for c in checks]

    ids = [r[0] for r in con.execute("SELECT id FROM posts ORDER BY id").fetchall()]
    out.append(("posts_distinct_ids", ids == exp["post_ids"],
                ids != exp["post_ids"], f"{len(ids)} rows vs {len(exp['post_ids'])} ids"))
    wc = {str(i): w for i, w in con.execute("SELECT id, word_count FROM posts").fetchall()}
    bad = [k for k, v in exp["word_count"].items() if wc.get(k) != v]
    out.append(("posts_word_counts", not bad, bool(bad), f"{len(bad)} word counts differ"))
    want = exp["window"]["comment_ids"]
    got = [r[0] for r in con.execute("SELECT id FROM comments ORDER BY id").fetchall()]
    out.append(("comments_window", got == want, got != want,
                f"{len(got)} comments vs {len(want)} expected"))
    cols = ", ".join(r[0] for r in con.execute("DESCRIBE posts").fetchall())
    diff = con.execute(f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM posts EXCEPT ALL "
                       f"SELECT {cols} FROM stream_posts)) + (SELECT count(*) FROM "
                       f"(SELECT {cols} FROM stream_posts EXCEPT ALL SELECT {cols} "
                       f"FROM posts))").fetchone()[0]
    out.append(("batch_equals_stream", diff == 0, diff != 0, f"{diff} rows differ"))
    return out


# ------------------------------------------------------------------ metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(h, workload):
    passes = h["passes"]
    ops = [op for p in passes for op in p["ops"] if op["ok"]]

    def lat(op):
        return op["construct_s"] + op["exec_s"]

    names = WORKLOADS[workload][1]
    if workload == "ingest":
        # every call of the replay is its own operation (hour h's batch, the
        # window's comments, the stream), each run once per pass
        per_op = [statistics.median(xs) for same in zip(*(p["ops"] for p in passes))
                  if (xs := [lat(o) for o in same if o["ok"]])]
    else:
        per_op = [statistics.median(xs) for n in names
                  if (xs := [lat(o) for o in ops if o["name"] == n])]
    jobs = [lat(o) for o in ops if o["name"] in names and o["name"] != "stream"]
    return {
        "setup_s": h["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "face_s_geomean": geomean(per_op),
        "job_s_p50": statistics.median(jobs),
        "peak_rss_mb": h["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {GRAFT_SRC}")

    build()
    deadline = time.time() + RUN_LIMIT_S
    data = dataset(WORKLOADS[a.workload][0], a.seed)
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    h = run_jvm(a.workload, data, work, a.seconds, a.trace == 1, deadline)
    log(f"measured JVM ran {time.time() - t0:.1f} s")

    checks = (check_ingest if a.workload == "ingest" else check_faces)(data, work, h["checks"])
    timed = [op for p in h["passes"] for op in p["ops"]]
    attempted = len(timed) + len(checks)
    failed = sum(1 for op in timed if not op["ok"]) + sum(1 for c in checks if not c[1])
    wrong = [c for c in checks if c[2]] + \
        [op for op in timed if not op["ok"] and str(op["error"]).startswith("mismatch")]
    for c in checks:
        if not c[1]:
            log(f"check failed: {c[0]}: {c[3]}")
    for op in timed:
        if not op["ok"]:
            log(f"operation failed: {op['name']}: {str(op['error'])[:200]}")

    e2e = end_to_end(h, a.workload)
    if a.trace:
        layers = dict(h.get("layers", {}))
        layers["trace.pass_s"] = e2e["pass_s"]
        layers["trace.face_s_geomean"] = e2e["face_s_geomean"]
        units = dict(LAYER_UNITS)
        units.update(op_layer_units())
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
