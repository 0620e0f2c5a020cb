#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (cached by a hash of the sources), generates the workload's inputs
from the seed (cached per seed), runs one JVM of the closed-loop harness
(`perfbench/harness`), checks every dumped result against DuckDB running
`SparkEntry.oracleSql`, and prints one JSON object as the last line of
stdout. See perfbench/README.md for what each metric includes.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
# The AOI GeoJSON files the c05..c08 queries read (and their oracle SQL
# names): the checkout's own `data/`, never the program's default path.
AOI_DIR = os.path.join(ROOT, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The artifact-served queries, at least one per maintained family: served
# after every append batch of the maintain workload, and checked against
# the oracle on its final corpus. ivfauto (no append entry point) is not
# served: its serve would rebuild it on demand after every batch.
SERVED = ["p05_pipeline_summary", "p08_pipeline_cached", "t06_dedup_minhash",
          "t17_curation_funnel", "t20_freq_bucket", "t23_doc_keywords",
          "v05_sim_ivf", "v06_embed_neardup"]

# v05 is served but not oracle-checked on the appended corpus: ivf appends
# keep the trained centroids frozen by design (SimOps.appendToIvf: equal
# to a rebuild at the same centroids), while the oracle retrains on the
# whole corpus. Every other served query must match the oracle.
MAINTAIN_CHECK = [q for q in SERVED if q != "v05_sim_ivf"]

# Queries that read a warehouse artifact: the serve workload leaves them
# to the maintain workload, so serving never pays a build.
ARTIFACT = set(SERVED) | {"t07_dedup_simhash", "t08_ngram_jaccard",
                          "t11_dedup_components", "x08_sink_manifest",
                          "t09_dedup_keep_first", "t12_bucket_audit",
                          "p06_pipeline_events", "v16_adc_topk", "v17_ivf_adc",
                          "t13_component_audit", "t19_curated_docs",
                          "t21_freq_bucket_approx", "v07_sim_ivf_probe2",
                          "v08_kmeans_model", "v09_ivf_index",
                          "v10_ivf_recall", "v12_embed_bucket_audit",
                          "v13_residual_error", "v14_embed_keep",
                          "v15_sim_ivf_auto"}

# The known slow tail at sf0.1 (ROADMAP item 4), always served.
TAIL = ["m03_cache_antijoin", "p07_pipeline_live",
        "q05_quality_filter_applied", "t14_decontaminate"]


# Run once, untimed, on a tiny dataset before the serve workload's timed
# calls: one query per major code path (join + aggregate, window, text,
# vectors, pixels, quality).
WARM = ["r02_revenue_by_nation", "e05_sessionize", "t03_token_count",
        "v01_sim_topk", "p03_pixel_isel", "q03_scene_stats"]


def serve_queries(names):
    """Every sixth query in name order among those that need no
    artifact, plus the tail; a fixed list, the same for every seed."""
    plain = [n for n in sorted(names) if n not in ARTIFACT]
    return sorted(set(plain[::6]) | set(TAIL))


def fingerprint(w):
    """Identity of a workload's generated inputs: its shape and the code
    that generates them, so a changed generator never reuses a cache."""
    h = hashlib.sha256(json.dumps(w, sort_keys=True).encode())
    for f in (os.path.join(HERE, "gen.py"),
              os.path.join(ROOT, "devtools", "scalegen.py")):
        if os.path.isfile(f):
            h.update(open(f, "rb").read())
    return h.hexdigest()[:12]


# Workload shapes. Sizes are fixed here, never chosen per seed.
WORKLOADS = {
    "serve-sf0.01": {"kind": "serve", "scale": 0.01},
    "maintain-rep2": {"kind": "maintain", "scale": 0.005, "floor": 250,
                      "replicas": 2, "batches": 1, "docs": 40, "vecs": 40,
                      "days": 30, "base_days": 2300, "max_files": 0},
}

MODULES = ["relational", "pixelops", "quality", "merge", "stats", "meta",
           "events", "textops", "simops", "multimodal", "resample",
           "pipeline", "export"]
FAMILIES = ["ivf", "ivfauto", "sig", "textdup", "funnel", "freq", "keywords",
            "neardup", "cube", "gcache", "gtiff"]
APPEND_FAMILIES = [f for f in FAMILIES if f != "ivfauto"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "harness", "src")]:
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "harness", "build.sbt"),
              os.path.join(HERE, "harness", "project", "build.properties")]
    return sorted(files)


def build():
    """Compile program + harness once per source hash; return the
    classpath and the oracle SQL map."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(AOI_DIR, "aoi_clip.geojson")):
        fail("no program sources here: run from the root of a checkout")
    h = hashlib.sha256(AOI_DIR.encode())  # the oracle SQL embeds it
    for f in source_files():
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(WORK, exist_ok=True)
    info_path = os.path.join(WORK, "build.json")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(info_path):
            info = json.load(open(info_path))
            if info.get("stamp") == stamp:
                return info
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            f" -Dsbt.offline=true -Dsbt.server.autostart=false"
            f" -Djava.io.tmpdir={tmp} -Xmx2g"))
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines or "classes" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        cp = lines[-1].strip()
        out = os.path.join(WORK, "oracle-sql")
        run_jvm(cp, ["workload=oracle-sql", f"out={out}"], out, timeout=120)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        info = {"stamp": stamp, "classpath": cp, "oracle_sql": oracle,
                "build_s": time.time() - t0}
        with open(info_path + ".tmp", "w") as f:
            json.dump(info, f)
        os.replace(info_path + ".tmp", info_path)
        log(f"built in {info['build_s']:.1f} s")
        return info


def heap():
    """Tier-1's driver heap: half of MemTotal in GiB, clamped to 2..8."""
    try:
        kb = int(next(l for l in open("/proc/meminfo")
                      if l.startswith("MemTotal:")).split()[1])
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, run_dir, timeout, props=()):
    """Run the harness in one JVM pinned as Tier-1 runs the program:
    SPARK_GRAFT_CPUS = nproc, Tier-1's heap, a 512 MB code cache, a
    private warehouse and tmpdir under the run dir, and the checkout's
    own AOI files."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraft.warehouse={os.path.join(run_dir, 'warehouse')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", *props,
            "-cp", cp, "graft.perfbench.Harness"] + args
    env = {k: v for k, v in os.environ.items() if k != "GRAFT_WAREHOUSE"}
    env.update(SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_AOI_DIR=AOI_DIR)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {timeout} s")
        t1 = time.time()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    return t0, t1


# ----------------------------------------------------------------- data

def dataset(name, w, seed):
    """Generate (once per seed) and return the workload's input dir."""
    d = os.path.join(WORK, "data", f"{name}-{seed}-{fingerprint(w)}")
    if w["kind"] == "serve":
        gen.ensure(d, lambda t: gen.serving(seed, w["scale"], t))
        return d
    scalegen = os.path.join(ROOT, "devtools", "scalegen.py")
    if not os.path.isfile(scalegen):
        fail("devtools/scalegen.py is missing")
    gen.ensure(d, lambda t: gen.maintained(
        seed, w["scale"], w["replicas"], t, scalegen, w["batches"], w["docs"],
        w["vecs"], w["days"], w["base_days"], w["floor"]))
    return d


def private_corpus(src, dst):
    """Copy the append base so the run appends to its own corpus; the
    appended tables become directories so batches can join them."""
    os.makedirs(dst)
    for t in TABLES:
        f = os.path.join(src, f"{t}.parquet")
        if t in ("documents", "embeddings", "lineitem"):
            os.makedirs(os.path.join(dst, f"{t}.parquet"))
            shutil.copyfile(f, os.path.join(dst, f"{t}.parquet", "part-00000.parquet"))
        else:
            shutil.copyfile(f, os.path.join(dst, f"{t}.parquet"))


# --------------------------------------------------------------- oracle

def norm(df):
    """devtools/check.py's normalization: columns sorted by name,
    datetimes as int64 ns, objects as str."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df


def diff(sdf, ddf):
    """devtools/check.py's compare: None when equal, else why."""
    if list(sdf.columns) != list(ddf.columns):
        return f"cols spark={list(sdf.columns)} duck={list(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} duck={len(ddf)}"
    for c in sdf.columns:
        a, b = sdf[c].values, ddf[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype("float64"), b.astype("float64")
            neq = ~((af.view("int64") == bf.view("int64")) |
                    (np.isnan(af) & np.isnan(bf)))
        else:
            neq = np.array([x != y for x, y in zip(a, b)], dtype=bool)
        if neq.any():
            i = int(np.argmax(neq))
            return f"values {c}: {int(neq.sum())} diffs e.g. row {i} spark={a[i]!r} duck={b[i]!r}"
    return None


def oracle(data_dir, key, names, sql):
    """DuckDB answers for `names` over `data_dir`, cached per dataset."""
    import duckdb
    path = os.path.join(WORK, "oracle", key + ".pkl")
    cached = {}
    if os.path.exists(path):
        cached = pickle.load(open(path, "rb"))
    todo = [n for n in names if n not in cached]
    if todo:
        con = duckdb.connect()
        con.execute(f"SET threads TO {cpus()}")
        con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp')}'")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        by_sql = {}  # several queries share one oracle statement
        for n in todo:
            if sql[n] not in by_sql:
                try:
                    by_sql[sql[n]] = norm(con.execute(sql[n]).fetch_df())
                except Exception as e:  # the oracle itself failed: a mismatch
                    by_sql[sql[n]] = f"duckdb: {str(e)[:200]}"
            cached[n] = by_sql[sql[n]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(cached, f)
        os.replace(path + ".tmp", path)
    return cached


def check_outputs(run_dir, data_dir, key, names, sql):
    """Compare each dumped Spark result with the oracle; return the
    mismatches as {query: why}."""
    import pyarrow.parquet as pq
    names = [n for n in names if n in sql]
    want = oracle(data_dir, key, names, sql)
    bad = {}
    for n in names:
        files = glob.glob(os.path.join(run_dir, "results", n, "*.parquet"))
        if not files:
            bad[n] = "no result"
            continue
        if isinstance(want[n], str):
            bad[n] = want[n]
            continue
        why = diff(norm(pq.read_table(files[0]).to_pandas()), want[n])
        if why:
            bad[n] = why
    return bad


# -------------------------------------------------------------- metrics

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else float("nan")


def layer_metrics(res, total_s, overhead_s):
    """The traced run's per-layer ledger: every layer is reported, 0 for
    a layer this workload does not exercise."""
    calls = res["calls"]
    m = {}
    for mod in MODULES:
        qs = [c for c in calls if c["layer"] == mod and "ledger" in c]
        led = [c["ledger"] for c in qs]
        m[f"{mod}.construct_s"] = (sum(c["construct_s"] for c in qs), "s")
        m[f"{mod}.plan_s"] = (sum(l["plan_s"] for l in led), "s")
        m[f"{mod}.exec_s"] = (sum(l["exec_s"] for l in led), "s")
        m[f"{mod}.jobs"] = (sum(l["jobs"] for l in led), "count")
        m[f"{mod}.task_s"] = (sum(l["task_s"] for l in led), "s")
        m[f"{mod}.shuffle_mb"] = (sum(l["shuffle_bytes"] for l in led) / 1e6, "MB")
        m[f"{mod}.max_task_shuffle_rows"] = (
            max([l["max_task_shuffle_rows"] for l in led], default=0), "count")
    for f in FAMILIES:
        m[f"{f}.build_s"] = (sum(c["s"] for c in calls
                                 if c["kind"] == "build" and c["name"] == f), "s")
    for f in APPEND_FAMILIES:
        m[f"{f}.append_s"] = (sum(c["s"] for c in calls
                                  if c["kind"] == "append" and c["name"] == f), "s")
    led = [c["ledger"] for c in calls if "ledger" in c]
    m["session.start_s"] = (res["session_start_s"], "s")
    m["session.warmup_s"] = (res["warmup_s"], "s")
    m["scan.mb"] = (sum(l["scan_bytes"] for l in led) / 1e6, "MB")
    m["scan.rows"] = (sum(l["scan_rows"] for l in led), "count")
    m["warehouse.write_mb"] = (sum(l["write_bytes"] for l in led) / 1e6, "MB")
    m["warehouse.files_written"] = (sum(l["files_written"] for l in led), "count")
    m["warehouse.stage_misses"] = (res["stage_misses"], "count")
    m["prof.degraded"] = (res["degraded"], "count")
    m["jvm.gc_s"] = (res["gc_s"], "s")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    m["trace.total_s"] = (total_s, "s")
    m["trace.overhead_s"] = (overhead_s, "s")
    return m


def compactions(res):
    """Per maintained table, how many batches rewrote all of its files
    (a compaction, or a recompute), plus the staged compaction copies."""
    out = {}
    for batch in res.get("batches", []):
        for t in batch:
            out[t["table"]] = out.get(t["table"], 0) + int(t["rewritten"])
    return out, res.get("staged", [])


def measure(name, w, seed, trace, info):
    """One harness run; returns its raw result and what the check found."""
    t = time.time()
    data = dataset(name, w, seed)
    log(f"inputs ready in {time.time() - t:.1f} s")
    run_dir = os.path.join(WORK, "runs", f"{name}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = [f"workload={w['kind']}", f"out={run_dir}", f"trace={trace}",
            f"run={name}-{seed}-{trace}"]
    props = []
    key = os.path.basename(data)
    if w["kind"] == "serve":
        queries = serve_queries(info["oracle_sql"])
        # a third of the served queries is checked per run, rotating with
        # the seed, so any three consecutive seeds check every one
        corpus, check = os.path.join(data, "main"), queries[seed % 3::3]
        args += ["queries=" + ",".join(queries), f"warm={os.path.join(data, 'warm')}",
                 "warmq=" + ",".join(WARM)]
    else:
        corpus, key, check = os.path.join(run_dir, "corpus"), key + "-final", MAINTAIN_CHECK
        private_corpus(os.path.join(data, "base"), corpus)
        args += [f"batches={os.path.join(data, 'batches')}",
                 f"nbatches={w['batches']}", "serve=" + ",".join(SERVED)]
        props = [f"-Dgraft.compact.maxFiles={w['max_files']}"]
    args += [f"data={corpus}", "check=" + ",".join(check)]
    t0, t1 = run_jvm(info["classpath"], args, run_dir, timeout=170, props=props)
    log(f"harness ran {t1 - t0:.1f} s")
    res = json.load(open(os.path.join(run_dir, "result.json")))
    t = time.time()
    bad = check_outputs(run_dir, corpus, key, check, info["oracle_sql"])
    log(f"checked {len(check)} outputs in {time.time() - t:.1f} s")
    return {"res": res, "t0": t0, "t1": t1, "input_bytes": gen.dir_bytes(corpus),
            "check": check, "bad": bad}


def end_to_end(r):
    """The gated metrics of one untraced run."""
    res = r["res"]
    lat = [c["s"] for c in res["calls"] if c["kind"] != "check"]
    return {
        "setup_s": (res["first_call_ms"] / 1e3 - r["t0"], "s"),
        "total_s": (r["t1"] - r["t0"], "s"),
        "work_s": (sum(lat), "s"),
        "call_geomean_s": (float(np.exp(np.mean(np.log(lat)))), "s"),
    }


def breakdown(r):
    """Per-phase figures (report only): each with its unit and samples."""
    res = r["res"]
    by = {}
    for c in res["calls"]:
        by.setdefault(c["kind"], []).append(c["s"])
    lat = [c["s"] for c in res["calls"] if c["kind"] != "check"]
    rows = [("call_p50_s", pct(lat, 50), "s", len(lat)),
            ("call_p75_s", pct(lat, 75), "s", len(lat)),
            ("peak_rss_mb", res["peak_rss_mb"], "MB", 1)]
    if "query" in by:
        q = by["query"]
        rows += [("serve_suite_s", sum(q), "s", len(q)),
                 ("query_p50_s", pct(q, 50), "s", len(q)),
                 ("query_p90_s", pct(q, 90), "s", len(q))]
    if "build" in by:
        rows += [("build_s", sum(by["build"]), "s", len(by["build"]))]
    for kind, label in (("append", "append"), ("serve", "serve_after_append")):
        if kind in by:
            xs = by[kind]
            rows += [(f"{label}_p50_s", pct(xs, 50), "s", len(xs)),
                     (f"{label}_p90_s", pct(xs, 90), "s", len(xs))]
    if res["warehouse_bytes"]:
        rows += [("store_bytes_per_input_byte",
                  res["warehouse_bytes"] / r["input_bytes"], "ratio", 1)]
    return rows


def report(name, r, metrics, attempted, failed):
    """Human-readable lines before the contract line."""
    res = r["res"]
    print(f"== {name}")
    for k, (v, u) in metrics.items():
        print(f"  {k:34s} {v:14.4f} {u}")
    for k, v, u, n in breakdown(r):
        print(f"  {k:34s} {v:14.4f} {u}  (n={n})")
    print(f"  {'failed_ratio':34s} {failed / attempted:14.4f} ratio  ({failed}/{attempted})")
    print(f"  oracle matches {len(r['check']) - len(r['bad'])}/{len(r['check'])}")
    for n, why in sorted(r["bad"].items()):
        print(f"  MISMATCH {n}: {why}")
    for c in res["calls"]:
        if c["error"]:
            print(f"  FAILED {c['kind']} {c['name']}: {c['error']}")
        elif c["builds"] and c["kind"] in ("query", "serve"):
            print(f"  NOTE {c['kind']} {c['name']} built {c['builds']} artifact(s)")
    if "batches" in res:
        rewritten, staged = compactions(res)
        print(f"  graft.compact.maxFiles={res['max_files']}; tables rewritten by "
              f"the batches: {json.dumps(rewritten, sort_keys=True)}; staged "
              f"compactions: {staged}")


def remember_untraced(workload, seed, total_s):
    path = os.path.join(WORK, "untraced.json")
    known = json.load(open(path)) if os.path.exists(path) else []
    known.append({"workload": workload, "seed": seed, "total_s": total_s})
    with open(path, "w") as f:
        json.dump(known, f)


def untraced_total(workload, seed):
    """The untraced total_s of this workload and seed in this checkout,
    else of its most recent untraced run, else None."""
    path = os.path.join(WORK, "untraced.json")
    known = [k for k in (json.load(open(path)) if os.path.exists(path) else [])
             if k["workload"] == workload]
    same = [k for k in known if k["seed"] == seed]
    return (same or known or [{"total_s": None}])[-1]["total_s"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    info = build()
    r = measure(a.workload, w, a.seed, a.trace, info)
    res = r["res"]
    timed = [c for c in res["calls"] if c["kind"] != "check"]
    attempted = len(timed) + len(r["check"])
    failed = sum(1 for c in timed if c["error"]) + len(r["bad"])
    m = end_to_end(r)
    if a.trace == 0:
        remember_untraced(a.workload, a.seed, m["total_s"][0])
        metrics = m
    else:
        untraced = untraced_total(a.workload, a.seed)
        if untraced is None:
            # no untraced twin in this checkout (and no time in this run's
            # budget for one): the time the calls waited on bus drains
            overhead = res["trace_drain_s"]
            log("no untraced run of this workload yet: trace.overhead_s is "
                "the bus-drain time")
        else:
            overhead = m["total_s"][0] - untraced
        metrics = layer_metrics(res, m["total_s"][0], overhead)
    report(a.workload, r, metrics, attempted, failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
