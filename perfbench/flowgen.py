"""Seeded `fal flow run` project for the flow_dag workload, and its oracle.

`generate(seed, corpus, out)` writes, under `out`:

  project/   a project in the `graft.api.Project.load` layout: 4 independent
             flows, each with 3 SQL models (a bucketed staging model, a
             merge-incremental join + aggregate over it, an
             append-incremental event model), data tests on 2 models, one
             after-script, one `python_mode=global` and one
             `python_mode=partition` Python model; plus a seed every flow
             joins and a project-level after-script.
  sources/   the source tables the project reads (one directory each).
  incr/      the seeded batch of new source rows landed before the
             incremental run (same layout as sources/).

The topology and node count are the same for every seed; the seed picks
only filters, keys and measure columns, all of equal selectivity, so the
work per run does not depend on the seed.

`check(spec, model_files)` recomputes every model with DuckDB (SQL
models, rendered) and pandas (Python models) over the same parquet, and
compares each model's row count and column digest with what the run
stored.
"""
import importlib.util
import json
import os
import random
import re
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FLOWS = 2
SOURCES = ("orders", "lineitem", "customer")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _flow_files(f, rnd):
    """The files of flow `f` as {relative path: text}."""
    p = f"f{f}_"
    r_orders = rnd.randrange(7)
    r_events = rnd.randrange(3)
    measure = rnd.choice(["l_extendedprice * (1 - l_discount)",
                          "l_extendedprice * (1 + l_tax)"])
    threshold = rnd.randrange(20, 31)
    return {
        f"models/{p}stg_orders.sql": f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       CAST(o_orderdate AS DATE) AS order_date
FROM {{{{ source('wh', 'orders') }}}}
WHERE o_orderkey % 7 <> {r_orders}
""",
        f"models/{p}stg_orders.meta": "tags=staging\nbucket_by=o_custkey\n"
                                      "buckets=4\n",
        f"models/{p}stg_orders.tests": "not_null o_orderkey\n"
                                       "accepted_values o_orderstatus O F P\n",
        f"models/{p}cust_orders.sql": f"""
SELECT o.o_custkey, c.c_mktsegment, s.weight,
       count(*) AS n_orders, sum(o.o_totalprice) AS total_price,
       min(o.order_date) AS first_order, max(o.o_orderkey) AS last_orderkey
FROM {{{{ ref('{p}stg_orders') }}}} o
JOIN {{{{ source('wh', 'customer') }}}} c ON o.o_custkey = c.c_custkey
JOIN {{{{ ref('segments') }}}} s ON c.c_mktsegment = s.segment
{{% if is_incremental() %}}
WHERE o.o_custkey IN (
  SELECT o_custkey FROM {{{{ ref('{p}stg_orders') }}}}
  WHERE o_orderkey > (SELECT max(last_orderkey) FROM {{{{ this }}}}))
{{% endif %}}
GROUP BY o.o_custkey, c.c_mktsegment, s.weight
""",
        f"models/{p}cust_orders.meta": f"incremental=true\n"
                                       f"incremental_strategy=merge\n"
                                       f"unique_key=o_custkey\n"
                                       f"scripts_after={p}report.sql\n",
        f"models/{p}cust_orders.tests": "not_null o_custkey\n"
                                        "unique o_custkey\n",
        f"models/{p}line_events.sql": f"""
SELECT l_orderkey, l_linenumber, l_quantity, {measure} AS net_price
FROM {{{{ source('wh', 'lineitem') }}}}
WHERE l_orderkey % 3 <> {r_events}
{{% if is_incremental() %}}
  AND l_orderkey > (SELECT max(l_orderkey) FROM {{{{ this }}}})
{{% endif %}}
""",
        f"models/{p}line_events.meta": "incremental=true\n"
                                       "incremental_strategy=append\n",
        f"models/{p}py_rollup.py": f'''
def model(dbt, fal):
    df = dbt.ref("{p}cust_orders")
    df["weighted"] = df["total_price"] * df["weight"]
    return df.groupby("c_mktsegment", as_index=False).agg(
        n_customers=("o_custkey", "count"), total=("total_price", "sum"),
        weighted=("weighted", "sum"))
''',
        f"models/{p}py_lines.py": f'''
def model(dbt, fal):
    df = dbt.ref("{p}line_events")
    df["gross"] = df["net_price"] * df["l_quantity"]
    df["big"] = df["l_quantity"] > {threshold}
    return df[["l_orderkey", "l_linenumber", "gross", "big"]]
''',
        f"models/{p}py_lines.meta": "python_mode=partition\n",
        f"scripts/{p}report.sql":
            f"SELECT count(*) AS n, sum(total_price) AS total "
            f"FROM {{{{ ref('{p}cust_orders') }}}}\n",
    }


def _increment(corpus, seed):
    """New orders (a seeded 10% sample of existing ones under fresh keys)
    and their line items."""
    orders = pq.read_table(os.path.join(corpus, "orders.parquet"))
    lines = pq.read_table(os.path.join(corpus, "lineitem.parquet"))
    rnd = random.Random(seed)
    keys = orders.column("o_orderkey").to_pylist()
    picked = sorted(rnd.sample(range(len(keys)), len(keys) // 10))
    top = max(keys)
    new_key = {keys[i]: top + 1 + j for j, i in enumerate(picked)}
    new_orders = orders.take(picked)
    new_orders = new_orders.set_column(
        0, "o_orderkey", pa.array([new_key[k] for k in
                                   new_orders.column("o_orderkey").to_pylist()],
                                  pa.int64()))
    mask = pc.is_in(lines.column("l_orderkey"),
                    value_set=pa.array(list(new_key), pa.int64()))
    new_lines = lines.filter(mask)
    new_lines = new_lines.set_column(
        0, "l_orderkey", pa.array([new_key[k] for k in
                                   new_lines.column("l_orderkey").to_pylist()],
                                  pa.int64()))
    return {"orders": new_orders, "lineitem": new_lines}


def generate(seed, corpus, out):
    """Write the project, sources and increment for `seed` under `out`;
    return the spec the check needs."""
    rnd = random.Random(seed)
    project = os.path.join(out, "project")
    sources = os.path.join(out, "sources")
    incr = os.path.join(out, "incr")
    for d in (project, sources, incr):
        shutil.rmtree(d, ignore_errors=True)
    files = {}
    for f in range(1, FLOWS + 1):
        files.update(_flow_files(f, rnd))
    files["seeds/segments.csv"] = "segment,weight\n" + "".join(
        f"{s},{rnd.randrange(1, 10)}\n" for s in SEGMENTS)
    files["scripts/summary.sql"] = (
        "SELECT count(*) AS n FROM {{ ref('f1_cust_orders') }}\n")
    files["project.meta"] = "scripts_after=summary.sql\n"
    files["sources.conf"] = "".join(
        f"wh {t} {os.path.join(sources, t)}\n" for t in SOURCES)
    for rel, text in files.items():
        path = os.path.join(project, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text.lstrip("\n"))
    for t in SOURCES:
        os.makedirs(os.path.join(sources, t))
        shutil.copyfile(os.path.join(corpus, f"{t}.parquet"),
                        os.path.join(sources, t, "part-00000.parquet"))
    for t, table in _increment(corpus, seed).items():
        os.makedirs(os.path.join(incr, t))
        pq.write_table(table, os.path.join(incr, t, "part-00001.parquet"))
    return {"project": project, "sources": sources, "incr": incr}


def models_of(project):
    """{name: kind} for every model in the project directory."""
    out = {}
    for sub, kinds in (("models", {".sql": "sql", ".py": "python"}),
                       ("seeds", {".csv": "seed"})):
        for fn in os.listdir(os.path.join(project, sub)):
            stem, ext = os.path.splitext(fn)
            if ext in kinds:
                out[stem] = kinds[ext]
    return out


def input_bytes(spec):
    return sum(os.path.getsize(os.path.join(d, t, f))
               for d in (spec["sources"], spec["incr"])
               for t in os.listdir(d) for f in os.listdir(os.path.join(d, t)))


def _render(sql, con_names, sources, incr):
    sql = re.sub(r"(?s)\{%\s*if\s+is_incremental\(\)\s*%\}.*?\{%\s*endif\s*%\}",
                 "", sql)
    sql = re.sub(r"\{\{\s*ref\('([^']+)'\)\s*\}\}",
                 lambda m: con_names[m.group(1)], sql)
    return re.sub(
        r"\{\{\s*source\('wh',\s*'([^']+)'\)\s*\}\}",
        lambda m: "read_parquet(['%s/*.parquet', '%s/*.parquet'])" % (
            os.path.join(sources, m.group(1)), os.path.join(incr, m.group(1)))
        if os.path.isdir(os.path.join(incr, m.group(1)))
        else "read_parquet('%s/*.parquet')" % os.path.join(sources, m.group(1)),
        sql)


def _digest(con, rel):
    """(rows, {column: checksum}) of a DuckDB relation expression."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exprs = ["count(*)"]
    for name, typ, *_ in cols:
        q = '"%s"' % name
        if typ.startswith(("DECIMAL", "DOUBLE", "FLOAT", "BIGINT", "INTEGER",
                           "HUGEINT", "SMALLINT", "TINYINT", "UBIGINT")):
            exprs.append(f"sum(CAST({q} AS DOUBLE))")
        else:
            exprs.append(f"sum(hash(CAST({q} AS VARCHAR)) % 1000000007)")
    row = con.execute(f"SELECT {', '.join(exprs)} FROM {rel}").fetchone()
    return row[0], dict(zip([c[0] for c in cols], row[1:]))


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a or 0), float(b or 0)
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b)) + 1e-6
    return a == b


def check(spec, model_files):
    """Recompute every model after the full + incremental runs and compare
    with the stored relations. Returns a list of failure messages."""
    project, sources, incr = spec["project"], spec["sources"], spec["incr"]
    kinds = models_of(project)
    con = duckdb.connect()
    names = {}
    failures = []
    done = set()

    def deps(name):
        if kinds[name] == "seed":
            return []
        ext = ".sql" if kinds[name] == "sql" else ".py"
        text = open(os.path.join(project, "models", name + ext)).read()
        return re.findall(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)", text)

    def expected(name):
        if name in done:
            return
        for d in deps(name):
            expected(d)
        view = f"exp_{name}"
        if kinds[name] == "seed":
            con.execute(f"CREATE TABLE {view} AS SELECT * FROM read_csv_auto("
                        f"'{os.path.join(project, 'seeds', name + '.csv')}')")
        elif kinds[name] == "sql":
            sql = open(os.path.join(project, "models", name + ".sql")).read()
            con.execute(f"CREATE TABLE {view} AS "
                        + _render(sql, names, sources, incr))
        else:
            spec_ = importlib.util.spec_from_file_location(
                name, os.path.join(project, "models", name + ".py"))
            mod = importlib.util.module_from_spec(spec_)
            spec_.loader.exec_module(mod)

            class Dbt:
                def ref(self, n):
                    return con.execute(f"SELECT * FROM {names[n]}").df()
            frame = mod.model(Dbt(), Dbt())  # noqa: F841 (read by DuckDB)
            con.execute(f"CREATE TABLE {view} AS SELECT * FROM frame")
        names[name] = view
        done.add(name)

    for name in sorted(kinds):
        try:
            expected(name)
            files = model_files.get(name) or []
            if not files:
                failures.append(f"{name}: no stored files")
                continue
            paths = [f[len("file:"):] if f.startswith("file:") else f
                     for f in files]
            got = _digest(con, "read_parquet(%s)" % json.dumps(paths)
                          .replace('"', "'"))
            want = _digest(con, names[name])
            if got[0] != want[0]:
                failures.append(f"{name}: rows {got[0]} != {want[0]}")
                continue
            for col, v in want[1].items():
                if col not in got[1] or not _same(got[1][col], v):
                    failures.append(f"{name}.{col}: digest "
                                    f"{got[1].get(col)} != {v}")
        except Exception as e:  # a check that cannot run is a failure
            failures.append(f"{name}: {type(e).__name__}: {e}")
    return failures
