#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the benchmark main from source with sbt (offline) and caches the class
path under perfbench/target; later runs reuse it while the sources are
unchanged.

Steps of one invocation:
  1. make a fresh private work directory (removed at exit); every path the
     JVM writes to (tmpdir, Spark local dirs, warehouse, checkpoints, the
     engine's corpus cache) points into it;
  2. generate the workload's inputs from the seed three times, check the
     three copies are byte-identical, and print their hash;
  3. run `graft.perfbench.Main` (Spark local[N], N <= 4 and <= nproc):
     set-up, one cold operation, then the workload's fixed number of warm
     operations (more only while --seconds have not passed);
  4. check the outputs against DuckDB, outside the timed region;
  5. print every metric as `metric <name> <value> <unit> n=<samples>`, then
     one JSON object as the last line: the end-to-end metrics of
     BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

/proc/loadavg and the CPU steal share are printed for the start and end of
the run so a contended window can be recognised afterwards.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

T_START = time.time()
DEADLINE_S = 170
# CPU steal share above which a measured operation counts as contended
CONTENDED_STEAL = 0.05

# Input sizes per workload (sf = TPC-H scale factor of the base tables).
WORKLOADS = {
    "etl_batch": dict(sf=0.002, days=6, drop_rows=500, drop_files=1,
                      delta_rows=20, batch_docs=40),
    "query_mix": dict(sf=0.01),
}

# The JVM's heap is fixed (-Xms = -Xmx) so the peak resident set reads the
# pages the run touched, not how far a growing heap happened to expand.
HEAP_OPTS = ["-Xms2g", "-Xmx2g"]


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---- machine state --------------------------------------------------------

def machine_state():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load, cpu


def steal_share(cpu0, cpu1):
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1
    return d[7] / total if len(d) > 7 else 0.0


# ---- build ----------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in ("src/main", "project", "perfbench/src", "perfbench/project"):
        files += glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True)
    for p in sorted(files):
        if os.path.isfile(p) and "/target/" not in p:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The class path and JVM options of the engine + benchmark build,
    rebuilt with sbt when a source or build file changed."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    digest = source_digest()
    try:
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"], cached["java_options"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "javaOptionsFile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(os.path.join(HERE, "target", "java-options.txt")) as f:
        opts = [x for x in f.read().splitlines() if x]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "java_options": opts}, f)
    log(f"build {time.time() - t0:.1f} s")
    return cp, opts


# ---- inputs ---------------------------------------------------------------

def generate(workload, seed, out_dir):
    import gen
    cfg = WORKLOADS[workload]
    tables = gen.tpch_tables(seed, cfg["sf"])
    if workload == "query_mix":
        gen.write_tables(tables, out_dir)
    else:
        gen.write_tables({k: tables[k] for k in
                          ("customer", "part", "orders", "lineitem", "documents")}, out_dir)
        domain = gen.orders_domain(tables)
        gen.etl_drops(seed, domain, out_dir, cfg["drop_rows"], cfg["drop_files"], cfg["days"])
        gen.stream_deltas(seed, domain, out_dir, cfg["days"], cfg["delta_rows"])
        gen.stream_docs(seed, tables, out_dir, cfg["days"], cfg["batch_docs"])
    return gen.tree_hash(out_dir)


# ---- the JVM --------------------------------------------------------------

def run_jvm(cp, opts, args, work):
    cmd = ["java", *opts, *HEAP_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graft.perfbench.Main", *args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    t0 = time.time()
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - T_START)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("JVM exceeded the time limit", 4)
        except BaseException:
            # interrupted (Ctrl-C, or SIGTERM raised as SystemExit below):
            # the JVM must not outlive this process
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return t0, proc.returncode


# ---- output checks (DuckDB) -----------------------------------------------

def duck(inputs):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort",
                            na_position="last").reset_index(drop=True)
    return df


def frames_equal(a, b):
    import pandas as pd
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            bad = ~((av.isna() & bv.isna()) |
                    ((av.astype(float) - bv.astype(float)).abs() <= 1e-6))
        else:
            bad = av.astype(str).where(~av.isna(), "<NA>") != \
                bv.astype(str).where(~bv.isna(), "<NA>")
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {av[i]!r} != {bv[i]!r}"
    return None


def mix_queries(res):
    """The mix's query names, as the JVM recorded them with their SQL."""
    return [k[len("oracle."):] for k in res if k.startswith("oracle.")]


def check_query_mix(work, inputs, res):
    con = duck(inputs)
    bad = {}
    for name in mix_queries(res):
        sql = res[f"oracle.{name}"]
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')").df()
        err = frames_equal(spark_df, con.execute(sql).df())
        if err:
            bad[name] = err
    return bad


DROP_SCHEMA = ("{'order_id': 'VARCHAR', 'customer_name': 'VARCHAR', "
               "'customer_email': 'VARCHAR', 'product': 'VARCHAR', "
               "'product_category': 'VARCHAR', 'quantity': 'INTEGER', "
               "'price': 'DOUBLE', 'discount': 'DOUBLE', 'order_date': 'TIMESTAMP', "
               "'source': 'VARCHAR', 'ingested_at': 'TIMESTAMP', "
               "'api_post_id': 'BIGINT', 'total_amount': 'DOUBLE'}")
CANON = ["order_id", "customer_name", "customer_email", "product",
         "product_category", "quantity", "price", "discount", "order_date",
         "source", "ingested_at", "api_post_id", "total_amount"]


def check_etl(work, inputs, res, runs):
    """Expected quality score and stored row count of each day's
    Pipeline.run, and the final table's content, computed in DuckDB from
    the same inputs. Each day the ingest combine keeps, per order_id, the
    record of the highest-priority source (domain, then CSV, then JSON),
    with `source` set by the file readers; validation scores that frame
    (`Quality.oracleSql`); cleaning is `Clean.OracleCte` over it. The
    table after day k holds, per order_id, the latest (by ingested_at)
    cleaned record of days 0..k."""
    con = duck(inputs)
    cols = ", ".join(CANON)
    # the file readers stamp their own provenance into `source`
    cols_file = cols.replace("source", "'{}' AS source")
    quality, stored = [], []
    for k in range(runs):
        day = os.path.join(inputs, f"day_{k:02d}")
        con.execute(f"""CREATE OR REPLACE TABLE ingested AS
            WITH {res['domain_cte']},
            srcs AS (
              SELECT {cols}, 0 AS prio FROM orders_domain
              UNION ALL
              SELECT {cols_file.format("file_csv")}, 1
              FROM read_csv('{day}/csv_drop/*.csv', header=true, columns={DROP_SCHEMA})
              UNION ALL
              SELECT {cols_file.format("file_json")}, 2 FROM (SELECT unnest(orders, recursive := true)
                  FROM read_json('{day}/json_drop/*.json', format='auto')))
            SELECT {cols} FROM srcs
            QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY prio) = 1""")
        quality.append(con.execute(res["quality_sql"]).fetchone()[4])
        con.execute("CREATE OR REPLACE VIEW dirty_domain AS SELECT * FROM ingested")
        clean = f"WITH {res['clean_cte']} SELECT {k} AS day, * FROM cleaned"
        con.execute(f"INSERT INTO cleaned_all {clean}" if k else f"CREATE TABLE cleaned_all AS {clean}")
        stored.append(con.execute(
            f"SELECT count(DISTINCT order_id) FROM cleaned_all WHERE day <= {k}").fetchone()[0])
    con.execute("""CREATE VIEW expected AS SELECT order_id, quantity, round(price, 2) AS price
        FROM cleaned_all QUALIFY row_number() OVER (PARTITION BY order_id
                                                    ORDER BY ingested_at DESC) = 1""")
    con.execute(f"""CREATE VIEW actual AS SELECT order_id, CAST(quantity AS DOUBLE) AS quantity,
        round(price, 2) AS price FROM read_parquet('{work}/etl_out/orders/*.parquet')""")
    diff = con.execute("""SELECT (SELECT count(*) FROM (SELECT * FROM expected
        EXCEPT ALL SELECT * FROM actual)) + (SELECT count(*) FROM (SELECT * FROM
        actual EXCEPT ALL SELECT * FROM expected))""").fetchone()[0]
    updated = con.execute("""SELECT count(*) FROM (SELECT order_id FROM cleaned_all
        GROUP BY 1 HAVING count(DISTINCT quantity || '/' || price) > 1)""").fetchone()[0]
    n_domain = con.execute(
        f"WITH {res['domain_cte']} SELECT count(*) FROM orders_domain").fetchone()[0]
    return quality, stored, diff, updated, n_domain


def check_stream(work, inputs, res):
    """The stream-fed table against DuckDB latest-wins over every consumed
    delta; the corpus against the admission rules (no replayed or
    exact-duplicate document admitted, every fresh document admitted, no
    document stored twice)."""
    con = duck(inputs)
    root = os.path.join(work, "stream")
    cols = ", ".join(CANON)
    errs = []
    con.execute(f"""CREATE VIEW expected AS
        SELECT {cols} FROM read_csv('{root}/deltas_in/*.csv', header=true,
            columns={DROP_SCHEMA})
        QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY ingested_at DESC) = 1""")
    con.execute(f"""CREATE VIEW actual AS SELECT {cols} FROM read_parquet(
        '{root}/orders/*/*.parquet', hive_partitioning=false)""")
    n_exp, n_act = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                    for v in ("expected", "actual"))
    diff = con.execute("""SELECT (SELECT count(*) FROM (SELECT * FROM expected
        EXCEPT ALL SELECT * FROM actual)) + (SELECT count(*) FROM (SELECT * FROM
        actual EXCEPT ALL SELECT * FROM expected))""").fetchone()[0]
    if n_exp != n_act or diff:
        errs.append(f"upsert table: {n_act} rows vs {n_exp} expected, {diff} differ")
    con.execute(f"""CREATE VIEW staged AS SELECT doc_id, text, kind
        FROM read_parquet('{root}/docs_in/*.parquet')""")
    con.execute(f"CREATE VIEW corpus AS SELECT doc_id, text FROM read_parquet('{root}/corpus/*.parquet')")
    n_base = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    dup_ids = con.execute("SELECT count(*) FROM (SELECT doc_id FROM corpus "
                          "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    admitted = con.execute(f"SELECT count(*) FROM corpus WHERE doc_id >= {n_base}").fetchone()[0]
    # a replay shares its id with an admitted original: admitting it would
    # store the id twice, which dup_ids counts
    wrong = con.execute(f"""SELECT count(*) FROM corpus c JOIN staged s USING (doc_id)
        WHERE c.doc_id >= {n_base} AND s.kind = 'exact'""").fetchone()[0]
    missed = con.execute("""SELECT count(*) FROM staged s WHERE s.kind = 'fresh'
        AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.doc_id = s.doc_id
                        AND c.text = s.text)""").fetchone()[0]
    stray = con.execute(f"""SELECT count(*) FROM corpus c WHERE c.doc_id >= {n_base}
        AND NOT EXISTS (SELECT 1 FROM staged s WHERE s.doc_id = c.doc_id
                        AND s.text = c.text)""").fetchone()[0]
    n_staged = con.execute("SELECT count(*) FROM staged").fetchone()[0]
    if dup_ids or wrong or missed or stray:
        errs.append(f"admission: {dup_ids} ids stored twice, {wrong} replayed/exact "
                    f"admitted, {missed} fresh rejected, {stray} not from the input")
    rejected = n_staged - admitted
    return errs, admitted / max(1, n_staged), admitted, rejected, n_staged


# ---- metrics --------------------------------------------------------------

def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}, \
        {m["name"]: m["unit"] for m in spec["end_to_end"]}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples above it."""
    s = sorted(xs)
    if len(s) < 11:
        return float("nan"), None
    k = len(s) - 11
    return s[k], 100.0 * k / (len(s) - 1)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: the engine sources are missing")
    layer_units, e2e_units = per_layer_names()

    load0, cpu0 = machine_state()
    log(f"machine start loadavg={' '.join(load0)}")
    cp, opts = build()

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # inputs, generated three times: the set-up cost is their median,
        # and the three copies must be byte-identical
        gen_s, hashes = [], []
        for k in range(3):
            d = os.path.join(work, f"gen{k}")
            t0 = time.time()
            hashes.append(generate(a.workload, a.seed, d))
            gen_s.append(time.time() - t0)
        if len(set(hashes)) != 1:
            fail(f"input generation is not deterministic: {hashes}", 5)
        inputs = os.path.join(work, "inputs")
        os.rename(os.path.join(work, "gen0"), inputs)
        for k in (1, 2):
            shutil.rmtree(os.path.join(work, f"gen{k}"))
        log(f"inputs sha256={hashes[0]} seed={a.seed} sizes={json.dumps(WORKLOADS[a.workload])}")

        cpus = str(min(4, len(os.sched_getaffinity(0))))
        t_launch, rc = run_jvm(cp, opts, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--inputs", inputs, "--cpus", cpus], work)
        try:
            with open(os.path.join(work, "result.json")) as f:
                res = json.load(f)
        except (OSError, ValueError):
            res = {"error": f"no result (exit code {rc})"}
        if rc != 0 or "error" in res:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"run failed: {res.get('error')}", 1)

        t_checks = time.time()
        S = res["samples"]
        # set-up: input generation (median of three) + JVM start and session
        # build + the workload's state set-up
        setup_s = median(gen_s) + (res["session_ready_ms"] / 1e3 - t_launch) + res["stage_s"]
        ops = S.get("op", [])
        attempted = 1 + len(ops) + len(S.get("op_traced", []))
        failed = 0
        lines = []

        def metric(name, value, unit, n):
            lines.append((name, value, unit, n))

        e2e = {"setup_s": setup_s, "warmup_s": res["warmup_s"],
               "peak_rss_mb": res["peak_rss_mb"]}
        n_op = {"pass_s": len(ops)}
        layer = dict(res.get("per_layer", {}))

        if a.workload == "etl_batch":
            n_runs = len(S["etl.success"])
            quality, stored, diff, updated, n_domain = check_etl(work, inputs, res, n_runs)
            for k, (ok, st, q) in enumerate(zip(S["etl.success"], S["etl.stored"],
                                                S["etl.quality"])):
                if not ok or st != stored[k] or abs(q - quality[k]) > 1e-6:
                    failed += 1
                    log(f"check day {k}: success={ok} stored={st} (expected {stored[k]}) "
                        f"quality={q} (expected {quality[k]})")
            errs, ratio, admitted, rejected, n_staged = check_stream(work, inputs, res)
            if diff:
                errs.append(f"batch table: {diff} rows differ from latest-wins")
            for e in errs:
                log(f"check {e}")
            if errs:
                failed = attempted
            # a traced run alternates untraced and traced days; the
            # end-to-end figures come from the untraced ones
            runs = [r for i, r in enumerate(S["etl.run_s"][1:]) if not (a.trace and i % 2 == 1)]
            up = S.get("upsert.batch.timed", [])
            ad = S.get("admit.batch.timed", [])
            drains = S.get("drain.timed", [])
            e2e["op_s"] = median(runs)
            n_op["op_s"] = len(runs)
            e2e["pass_s"] = median(ops)
            metric("etl_run_s", median(runs), "s", len(runs))
            metric("upsert_batch_p50_s", median(up), "s", len(up))
            metric("admit_batch_p50_s", median(ad), "s", len(ad))
            metric("stream_drain_s", median(drains), "s", len(drains))
            log("storage stage per day, in order (day 0 = cold, creates the table): "
                + " ".join(f"{x:.3f}" for x in S["etl.stage.storage"]))
            log("stored rows per day: " + " ".join(str(int(x)) for x in S["etl.stored"])
                + f"; {updated} orders changed value across days")
            log("stream drain s per day: " + " ".join(
                f"{x:.2f}" for x in S.get("drain.cold", []) + S.get("drain.timed", [])))
            log(f"admission: {admitted} admitted + {rejected} rejected = {n_staged} staged")
            # distinct stored rows / records fed (the domain counted once)
            layer["etl.stored_ratio"] = stored[-1] / (
                n_domain + n_runs * 2 * WORKLOADS["etl_batch"]["drop_rows"])
            layer["admit.admit_ratio"] = ratio
        elif a.workload == "query_mix":
            bad = check_query_mix(work, inputs, res)
            for name, err in bad.items():
                log(f"check {name}: {err}")
            queries = mix_queries(res)
            qs = [x for q in queries for x in S.get(f"q.{q}", [])]
            attempted = sum(len(S.get(f"{p}.{q}", [])) for q in queries
                            for p in ("cold", "q", "qt"))
            failed = sum(len(S.get(f"{p}.{q}", [])) for q in bad
                         for p in ("cold", "q", "qt"))
            # the typical query: queries of unequal cost put their median in
            # whatever gap separates the two middle ones, so the
            # end-to-end figure is the geometric mean
            e2e["op_s"] = geomean(qs)
            n_op["op_s"] = len(qs)
            e2e["pass_s"] = median(ops)
            metric("query_geomean_s", geomean(qs), "s", len(qs))
            metric("query_p50_s", median(qs), "s", len(qs))
            tv, tp = tail(qs)
            metric(f"query_tail_s(p{tp:.1f})" if tp is not None else "query_tail_s(n<11)",
                   tv, "s", len(qs))
            metric("mix_pass_s", median(ops), "s", len(ops))
            for q in queries:
                log(f"query {q} cold={S.get('cold.' + q, [float('nan')])[0]:.3f} "
                    f"p50={median(S.get('q.' + q, [])):.3f} n={len(S.get('q.' + q, []))} "
                    f"in order: {' '.join(f'{x:.3f}' for x in S.get('q.' + q, []))}")
        log(f"phases: generate {sum(gen_s):.1f} s (3 copies), JVM {t_checks - t_launch:.1f} s "
            f"(state set-up {res['stage_s']:.1f} s, cold operation {res['warmup_s']:.1f} s, "
            f"measured {res['measure_s']:.1f} s), checks {time.time() - t_checks:.1f} s")
        metric("failed_frac", failed / attempted, "ratio", attempted)
        if a.trace:
            layer["gc_s"] = res["gc_s"]
            layer["tracing_overhead_s"] = median(S.get("op_traced", [])) - median(ops)
        for name in e2e_units:
            metric(name, e2e[name], e2e_units[name], n_op.get(name, 1))

        log(f"measured {res['measure_s']:.2f} s: cold operation + "
            f"{len(ops) + len(S.get('op_traced', []))} timed operations")
        log("untraced operation s, in order: " + " ".join(f"{x:.3f}" for x in ops))
        load1, cpu1 = machine_state()
        steal = S.get("op.steal", [])
        log(f"machine end loadavg={' '.join(load1)} "
            f"cpu_steal={100 * steal_share(cpu0, cpu1):.2f}%")
        # a run whose measured operations lost more than CONTENDED_STEAL of
        # the CPU to other guests is flagged, so a set can be judged (and
        # rerun) by machine; the measured values are reported unchanged
        log("untimed pause before each operation (GC + JIT idle), s: "
            + " ".join(f"{x:.2f}" for x in S.get("quiesce_s", [])))
        log("machine steal per operation (first = cold): "
            + " ".join(f"{100 * x:.2f}%" for x in steal))
        log(f"machine contended={int(max(steal[1:], default=0) > CONTENDED_STEAL)}")
        for name, value, unit, n in lines:
            log(f"metric {name} {value!r} {unit} n={n}")
        if a.trace:
            for name in list(layer_units) + [k for k in layer if k not in layer_units]:
                log(f"layer {name} {layer.get(name, 0.0)!r} {layer_units.get(name, '')}")
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(ROOT, ".perfbench_work", f"spans-{a.workload}.jsonl"))
        chosen = layer_units if a.trace else e2e_units
        metrics = {k: {"value": float(layer.get(k, 0.0) if a.trace else e2e[k]), "unit": u}
                   for k, u in chosen.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
