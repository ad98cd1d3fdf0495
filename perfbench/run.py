#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload per process, one JVM.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

The first run builds the program and the harness from source (sbt, into
perfbench/target and target/). Each run then

  1. generates its inputs from the seed: a seeded file layout of the
     content-identical tables in perfbench/data, and the dirty staging CSVs
     of the reference ETL;
  2. starts one JVM (graft.perfbench.Main) that sets up, warms up and runs
     closed-loop passes for --seconds;
  3. checks every verifiable output against the DuckDB oracle on the same
     inputs, and reads the ETL invariants the JVM checked;
  4. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

Everything a run writes stays under perfbench/out/<workload>-s<seed>-t<trace>/.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import csv
import datetime
import decimal
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
DEADLINE_S = 175.0  # a run must end within 180 s

# Per workload: the table scale it reads and the ETL size (customers rows).
WORKLOADS = {
    "reference_etl": {"scale": None, "etl_rows": 500},
    "sql_analytics": {"scale": "sf0.01", "etl_rows": 0},
}
SMOKE = {"scale": "sf0.001", "etl_rows": 200}

# Spark 4 on JDK 17 outside spark-submit needs these (the root build
# passes the same list to forked runs).
ADD_OPENS = [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the program and the harness once per checkout; later runs
    reuse the classpath file until a source file changes."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no program build next to perfbench/ (expected ../build.sbt)")
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "src")]
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_mtime(sources):
        return
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    with open(os.path.join(BENCH, "out", "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=BENCH,
                           stdout=log, stderr=subprocess.STDOUT, timeout=850)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed, see perfbench/out/build.log")


# ---------------------------------------------------------------- inputs

def layout_tables(scale, seed, dest):
    """Content-identical copy of perfbench/data/<scale>: each table's rows
    in a seed-chosen order, split into two files at a seed-chosen row (a
    fixed file count keeps the number of scan tasks equal across seeds)."""
    import pyarrow.parquet as pq
    src = os.path.join(DATA, scale)
    if not os.path.isdir(src):
        fail(f"missing table data {src}")
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-len(".parquet")]
        rng = random.Random(f"{seed}:{name}")
        table = pq.read_table(os.path.join(src, f))
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(order)
        cut = rng.randint(table.num_rows // 3, 2 * table.num_rows // 3) if table.num_rows >= 100 \
            else table.num_rows
        out = os.path.join(dest, f)
        os.makedirs(out)
        for i, (lo, hi) in enumerate([(0, cut), (cut, table.num_rows)]):
            if hi > lo:
                pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet"))


CITIES = [("Springfield", "IL"), ("Portland", "OR"), ("Austin", "TX"), ("Denver", "CO"),
          ("Madison", "WI"), ("Raleigh", "NC"), ("Tucson", "AZ"), ("Boise", "ID"),
          ("Albany", "NY"), ("Salem", "MA"), ("Fresno", "CA"), ("Dayton", "OH")]
FIRST = ["John", "Mary", "Ana", "Li", "Omar", "Priya", "Sam", "Eva", "Noah", "Zoe",
         "Ivan", "Mia", "Raj", "Lena", "Tom", "Kim"]
LAST = ["Smith", "Garcia", "Chen", "Khan", "Patel", "Novak", "Brown", "Silva", "Kim", "Lopez"]
CATEGORIES = {"Fruits": ["Citrus", "Berries", "Tropical"], "Vegetables": ["Leafy", "Roots"],
              "Dairy": ["Milk", "Cheese"], "Bakery": ["Bread", "Pastry"],
              "Beverages": ["Juice", "Tea", "Coffee"]}
SHIPMODES = ["AIR", "GROUND", "SHIP", "rail", "Express"]
BOOLS = ["Yes", "y", "TRUE", "1", "No", "n", "false", "0", ""]


class Dirt:
    """The FIXTURES.md dirt cases, drawn per cell from one seeded stream."""

    def __init__(self, rng):
        self.rng = rng

    def p(self, prob):
        return self.rng.random() < prob

    def uuid(self):
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def pk(self, key, i):
        if self.p(0.03):  # invalid uuid: quarantined, then repaired
            return self.rng.choice([f"not-a-uuid-{i}", f"{12345 + i}"])
        if self.p(0.05):  # uppercase / padded uuid: normalised
            return f"  {key.upper()} "
        return key

    def fk(self, key, i):
        if self.p(0.03):  # valid uuid, missing parent: orphan
            return self.uuid()
        if self.p(0.02):  # not a uuid at all
            return f"bad-fk-{i}"
        return key

    def text(self, s):
        return f"  {s} " if self.p(0.1) else s

    def blank(self, s, prob=0.03):
        return "" if self.p(prob) else s

    def date(self):
        y, m, d = self.rng.randint(2021, 2024), self.rng.randint(1, 12), self.rng.randint(1, 28)
        if self.p(0.05):
            return self.rng.choice([f"{y}-{m:02d}-{d:02d}", f"Jan {d} {y}"])
        return f"{m}/{d}/{y}"

    def money(self, lo, hi):
        return f"{self.rng.uniform(lo, hi):.2f}"


def generate_etl(seed, n, dest):
    """Dirty staging CSVs for the six Amazon Fresh entities (FIXTURES.md
    §1 columns, §3 dirt cases, §4 shape) plus a re-ingest sample and the
    seed-chosen task parameters. Returns the staged row count."""
    rng = random.Random(seed)
    dirt = Dirt(rng)
    os.makedirs(dest)
    rows = {}

    def emit(entity, row_list, dup_prob):
        # duplicate-PK rows: a re-delivered row, PK spelled in upper case
        out = []
        for r in row_list:
            out.append(r)
            if dirt.p(dup_prob):
                out.append([r[0].strip().upper()] + r[1:])
        rows[entity] = out

    n_sup, n_prod, n_ord = max(8, n // 20), max(20, n // 4), 2 * n
    sup_ids = [dirt.uuid() for _ in range(n_sup)]
    prod_ids = [dirt.uuid() for _ in range(n_prod)]
    cust_ids = [dirt.uuid() for _ in range(n)]
    ord_ids = [dirt.uuid() for _ in range(n_ord)]

    emit("suppliers", [[dirt.pk(k, i), dirt.text(f"Supplier {i}"),
                        dirt.blank(f"{rng.choice(FIRST)} {rng.choice(LAST)}"),
                        dirt.blank(f"555-{rng.randint(1000, 9999)}"),
                        *rng.choice(CITIES)] for i, k in enumerate(sup_ids)], 0.02)
    # suppliers with no products exist: products draw from the first 80%
    prods = []
    for i, k in enumerate(prod_ids):
        cat = rng.choice(sorted(CATEGORIES))
        sub = rng.choice(CATEGORIES[cat])
        if dirt.p(0.15):
            cat = rng.choice([cat.lower(), cat.upper(), f" {cat} "])
        if dirt.p(0.05):
            cat, sub = rng.choice([("", ""), (cat, ""), ("", sub)])
        prods.append([dirt.pk(k, i), dirt.text(f"Product {i}"), cat, sub,
                      dirt.blank(dirt.money(1, 50)), dirt.blank(str(rng.randint(0, 500))),
                      dirt.fk(rng.choice(sup_ids[: max(1, n_sup * 4 // 5)]), i)])
    emit("products", prods, 0.02)
    custs = []
    for i, k in enumerate(cust_ids):
        age = str(rng.randint(19, 80))
        if dirt.p(0.08):
            age = rng.choice(["17", "16", "", "18"])
        city, state = rng.choice(CITIES)
        # a small name pool makes duplicate natural keys common
        custs.append([dirt.pk(k, i), dirt.text(f"{rng.choice(FIRST)} {rng.choice(LAST)}"),
                      age, rng.choice(["F", "M", ""]), dirt.text(city), state, "USA",
                      dirt.date(), rng.choice(BOOLS)])
    emit("customers", custs, 0.03)
    # customers with no orders exist: orders draw from the first 90%
    emit("orders", [[dirt.pk(k, i), dirt.fk(rng.choice(cust_ids[: n * 9 // 10]), i),
                     dirt.date(), dirt.blank(dirt.date(), 0.1), rng.choice(SHIPMODES),
                     dirt.blank(dirt.money(5, 900))] for i, k in enumerate(ord_ids)], 0.02)
    emit("order_details", [[dirt.pk(dirt.uuid(), i), dirt.fk(rng.choice(ord_ids), i),
                            dirt.fk(rng.choice(prod_ids), i),
                            dirt.blank(str(rng.randint(1, 10)), 0.02),
                            dirt.money(1, 50), rng.choice(["0.00", "0.05", "0.10", ""])]
                           for i in range(4 * n)], 0.02)
    emit("reviews", [[dirt.pk(dirt.uuid(), i), dirt.fk(rng.choice(prod_ids), i),
                      "" if dirt.p(0.05) else dirt.fk(rng.choice(cust_ids), i),
                      rng.choice(["0", "6"]) if dirt.p(0.05) else str(rng.randint(1, 5)),
                      dirt.text(rng.choice(["great", "fresh", "ok", "stale", "fine"]))]
                     for i in range(n)], 0.02)

    headers = {
        "suppliers": "supplierid,suppliername,contactperson,phone,city,state",
        "products": "productid,productname,category,subcategory,priceperunit,stockquantity,supplierid",
        "customers": "customerid,name,age,gender,city,state,country,signupdate,primemember",
        "orders": "orderid,customerid,orderdate,shipdate,shipmode,totalamount",
        "order_details": "orderdetailid,orderid,productid,quantity,unitprice,discount",
        "reviews": "reviewid,productid,customerid,rating,reviewtext",
    }

    def write(name, header, body):
        with open(os.path.join(dest, name), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header.split(","))
            w.writerows(body)

    for entity, header in headers.items():
        write(f"{entity}.csv", header, rows[entity])
    write("reingest_customers.csv", headers["customers"],
          [r for r in rows["customers"] if rng.random() < 0.2])
    params = {"city": rng.choice(CITIES)[0], "min_avg_rating": rng.choice(["3.0", "3.5"]),
              "min_spent": rng.choice(["500.00", "1000.00"]), "top_k": str(rng.randint(5, 10)),
              "batch_mod": "10", "batch_pick": str(seed % 10)}
    with open(os.path.join(dest, "params.properties"), "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in sorted(params.items()))
    return sum(len(v) for v in rows.values())


# ---------------------------------------------------------------- verify

def canon(value):
    """One rendering per value for both engines: exact integers, floats and
    decimals to 9 significant digits (summation order may move the last
    bits), timestamps ISO, nested lists element-wise."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, (float, decimal.Decimal)):
        return "%.9g" % float(value)
    if isinstance(value, (datetime.date, datetime.datetime, datetime.time)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return [canon(v) for v in value]
    if isinstance(value, dict):
        return {str(k): canon(v) for k, v in sorted(value.items())}
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    return str(value)


def digest(con, sql, tamper=None):
    """sha256 over column names and rows, columns sorted by name, rows sorted."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted((json.dumps([canon(r[i]) for i in order]) for r in rows))
    if tamper:
        canon_rows = tamper(canon_rows)
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    for r in canon_rows:
        h.update(r.encode())
    return h.hexdigest()


def verify(run_dir, inputs_sf, entries, tamper_op=None):
    """Compare each operation's warm-up output with the DuckDB oracle on the
    same inputs. Returns {op: (result digest, oracle digest)} of mismatches."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(inputs_sf)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs_sf, f)}/*.parquet')")
    bad = {}
    for e in entries:
        res = os.path.join(run_dir, "results", e["op"])
        try:
            want = digest(con, e["oracle"])
            tamper = (lambda rows: rows[1:] + ["tampered"]) if e["op"] == tamper_op else None
            got = digest(con, f"SELECT * FROM read_parquet('{res}/*.parquet')", tamper)
        except Exception as ex:  # a missing result or a failing oracle
            want, got = "error", f"{type(ex).__name__}: {ex}"
        if want != got:
            bad[e["op"]] = (got, want)
    return bad


# ---------------------------------------------------------------- run

def run(workload, seed, seconds, trace, cfg, tamper_op=None):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {', '.join(WORKLOADS)}")
    build()  # the first run in a checkout may spend its build time on top
    started = time.time()
    run_dir = os.path.join(BENCH, "out", f"{workload}-s{seed}-t{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)

    t0 = time.time()
    if cfg["scale"]:
        layout_tables(cfg["scale"], seed, os.path.join(inputs, "sf"))
    if cfg["etl_rows"]:
        generate_etl(seed, cfg["etl_rows"], os.path.join(inputs, "etl"))
    inputs_s = time.time() - t0

    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    cmd = ["java", *ADD_OPENS, "-Xms1g", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           f"-Dperfbench.log={os.path.join(run_dir, 'spark.log')}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--inputs", inputs, "--out", run_dir,
           "--cores", str(min(4, os.cpu_count() or 1)), "--inputs-seconds", f"{inputs_s:.6f}"]
    budget = DEADLINE_S - (time.time() - started) - 10.0
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(budget, 1.0))
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {budget:.0f} s, see {run_dir}/jvm.log")
    result_file = os.path.join(run_dir, "jvm.json")
    if r.returncode != 0 or not os.path.isfile(result_file):
        fail(f"JVM exited with {r.returncode}, see {run_dir}/jvm.log")
    with open(result_file) as fh:
        res = json.load(fh)

    failed = res["failed"]
    bad = verify(run_dir, os.path.join(inputs, "sf"), res["verify"], tamper_op) \
        if res["verify"] else {}
    for op, (got, want) in sorted(bad.items()):
        print(f"[perfbench] {op}: result digest {got[:16]} != oracle {want[:16]}", file=sys.stderr)
        failed += next(e["runs"] for e in res["verify"] if e["op"] == op)
    for f in res["failures"]:
        print(f"[perfbench] {f}", file=sys.stderr)

    units = metric_units()
    values = dict(res["per_layer"] if trace else res["end_to_end"])
    if trace:
        values["ops.fail_ratio"] = failed / res["attempted"]
        values["tmp.dirs_after_exit"] = float(len(os.listdir(tmp)))
        if "trace.overhead_s" not in values:
            values["trace.overhead_s"] = values["trace.wall_s"] - untraced_wall(workload, seed)
    metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in sorted(values.items())}
    # inputs and stores are large and rebuilt per run; spans, logs and the
    # JVM's result stay
    for d in ("inputs", "results", "store", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    return {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
            "metrics": metrics}, bad


def untraced_wall(workload, seed):
    """wall_s of the untraced run of this workload and seed in this
    checkout, else the median over its untraced runs: the baseline of a
    cold workload's tracing overhead (its one cold pass cannot run twice
    in one JVM)."""
    import glob
    import statistics
    mine = os.path.join(BENCH, "out", f"{workload}-s{seed}-t0", "jvm.json")
    files = [mine] if os.path.isfile(mine) else \
        glob.glob(os.path.join(BENCH, "out", f"{workload}-s*-t0", "jvm.json"))
    walls = []
    for f in files:
        with open(f) as fh:
            walls.append(json.load(fh)["end_to_end"]["wall_s"])
    if not walls:
        print(f"[perfbench] no untraced {workload} run here yet: trace.overhead_s is 0",
              file=sys.stderr)
        return 0.0
    return statistics.median(walls)


def metric_units():
    """Units of every metric: BENCHMARK.json's, then the ones it omits."""
    units = {}
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(path):
        with open(path) as fh:
            spec = json.load(fh)
        for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
            units[m["name"]] = m["unit"]
    return units


def smoke():
    """Each workload once at sf0.001 with a tiny ETL, untraced and traced:
    every metric BENCHMARK.json names must come out with its unit, and a
    tampered result digest must be caught as a failure."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        cfg = {k: SMOKE[k] if WORKLOADS[name][k] else WORKLOADS[name][k] for k in SMOKE}
        for trace in (False, True):
            want = spec["per_layer"] if trace else spec["end_to_end"]
            out, _ = run(name, 1, 0, trace, cfg)
            got = out["metrics"]
            missing = [m["name"] for m in want if got.get(m["name"], {}).get("unit") != m["unit"]]
            if missing:
                problems.append(f"{name} trace={int(trace)}: missing or unitless {missing}")
            if not out["correct"]:
                problems.append(f"{name} trace={int(trace)}: {out['failed']} failed operations")
            print(f"[smoke] {name} trace={int(trace)}: attempted={out['attempted']} "
                  f"failed={out['failed']} metrics={len(got)}", file=sys.stderr)
        if cfg["scale"]:
            # the digest check must catch a result that differs by one row
            victim = "q07_semi_join"
            out, bad = run(name, 1, 0, False, cfg, tamper_op=victim)
            if victim not in bad or out["correct"]:
                problems.append(f"{name}: a tampered digest of {victim} was not caught")
            else:
                print(f"[smoke] {name}: tampered digest of {victim} caught", file=sys.stderr)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print(json.dumps({"smoke": "ok"}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        fail("--workload is required")
    out, _ = run(a.workload, a.seed, a.seconds, bool(a.trace), WORKLOADS.get(a.workload, {}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
