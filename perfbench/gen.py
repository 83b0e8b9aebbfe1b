"""Seeded input generator for the benchmark.

Every input a workload reads is made here from `--seed`: the same seed gives
byte-identical files, another seed gives other values with the same row
counts, types and planted structure. The engine never sees anything else.

Tables mirror the engine's fixture schemas (TPC-H-ish star schema plus
documents and embeddings; see FIXTURES.md), written the way the
fixtures are: one pyarrow parquet file per table, microsecond timestamps
without a zone, one row group.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (["query", "merge", "stream", "group", "agg", "data", "row", "big",
          "column", "a", "hash", "value", "vector", "window", "fast", "scan",
          "join", "sort", "filter", "the", "of", "index", "batch", "shard",
          "plan", "cache", "spill", "key", "range", "slow"]
         + [f"tok{i}" for i in range(370)])
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJS = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUNS = ["ring", "bolt", "plate", "screw", "gear", "cap"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
LANGS = ["en", "en", "en", "en", "de", "es", "zh", "fr"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def rng_for(seed, *tags):
    """Independent stream per (seed, tag): adding a table never shifts
    another table's values."""
    salt = [int.from_bytes(t.encode(), "little") % (2 ** 32) for t in tags]
    return np.random.default_rng([int(seed) % (2 ** 63)] + salt)


def pick(rng, xs, n):
    return pa.array(np.asarray(xs, dtype=object)[rng.integers(0, len(xs), n)],
                    pa.string())


def money(rng, n, lo, span):
    return np.round(lo + rng.random(n) * span, 2)


def ts_days(rng, base_us, n, max_days):
    return pa.array(base_us + rng.integers(0, max_days, n) * US_PER_DAY,
                    pa.timestamp("us"))


def rows(base, sf):
    return max(1, int(base * sf))


def tpch_tables(seed, sf, order_days=2405):
    n_cust, n_supp = rows(150_000, sf), rows(10_000, sf)
    n_part, n_ord, n_li = rows(200_000, sf), rows(1_500_000, sf), rows(6_000_000, sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    r = rng_for(seed, "nation")
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})
    r = rng_for(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, n_cust, -1000, 11000),
        "c_mktsegment": pick(r, SEGMENTS, n_cust)})
    r = rng_for(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, n_supp, -1000, 11000)})
    r = rng_for(seed, "part")
    adj = np.asarray(PART_ADJS, dtype=object)[r.integers(0, len(PART_ADJS), n_part)]
    noun = np.asarray(PART_NOUNS, dtype=object)[r.integers(0, len(PART_NOUNS), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(0, 25, n_part)]),
        "p_type": pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(r, n_part, 900, 100)})
    r = rng_for(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": money(r, n_ord, 1000, 499000),
        "o_orderdate": ts_days(r, EPOCH_1995, n_ord, order_days),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})
    r = rng_for(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, n_li, 900, 99100),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": pick(r, ["F", "O"], n_li),
        "l_shipdate": ts_days(r, EPOCH_1995 + US_PER_DAY, n_li, order_days + 95)})
    return out


def documents_table(seed, n):
    """Every 500th+1 document is its predecessor plus one word (a near
    duplicate), every 500th+2 an exact copy of the document two back, so
    the dedup operators find real pairs at every scale."""
    r = rng_for(seed, "documents")
    vocab = np.asarray(VOCAB, dtype=object)
    ids = np.arange(n)
    base = np.where(ids % 500 == 1, ids - 1, np.where(ids % 500 == 2, ids - 2, ids))
    n_words = r.integers(8, 108, n)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in n_words]
    lang = np.asarray(LANGS, dtype=object)[r.integers(0, len(LANGS), n)]
    src = r.integers(0, 20, n)
    text = [texts[b] + (" mutated" if i % 500 == 1 else "") for i, b in enumerate(base)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang[base], pa.string()),
        "source": pa.array([f"src{s}" for s in src[base]], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def embeddings_table(seed, n, dim=64):
    """Ten label centroids with a weak signal (so cosine-threshold pair sets
    stay sparse); every 250th+1 vector is a jittered copy of its
    predecessor."""
    r = rng_for(seed, "embeddings")
    ids = np.arange(n)
    base = np.where(ids % 250 == 1, ids - 1, ids)
    label = r.integers(0, 10, n)[base]
    cent = (r.random((10, dim)) - 0.5) * 0.15
    noise = (r.random((n, dim)) - 0.5) * 0.5
    jitter = np.where((ids % 250 == 1)[:, None], (r.random((n, dim)) - 0.5) * 0.01, 0.0)
    vec = (cent[label] + noise[base] + jitter).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_query_inputs(out_dir, seed, sf, docs, embeds):
    """The star schema plus documents and embeddings under
    `out_dir/<name>.parquet`, the layout `graft.sources.Tables` loads."""
    tables = tpch_tables(seed, sf)
    tables["documents"] = documents_table(seed, docs)
    tables["embeddings"] = embeddings_table(seed, embeds)
    for name, t in tables.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# ---------------------------------------------------------------- warehouse

# agnostic type of each source column, in the engine's metadata vocabulary
AGNOSTIC = {
    pa.int32(): "int", pa.int64(): "long", pa.float64(): "double",
    pa.string(): "character", pa.timestamp("us"): "datetime",
}

# (table, data_format) in the warehouse loop; orders and lineitem gain
# year/month partition columns derived from their date
WAREHOUSE_TABLES = [("region", "csv"), ("nation", "json"), ("customer", "csv"),
                    ("supplier", "json"), ("part", "parquet"),
                    ("orders", "parquet"), ("lineitem", "parquet")]
PARTITION_DATE = {"orders": "o_orderdate", "lineitem": "l_shipdate"}

STAGED_SQL = {
    # the reference's example job, example/glue_jobs/simple_etl_job
    "emp_team": "SELECT * FROM emp LEFT JOIN team USING (employee_id)",
    "revenue_by_segment": """
SELECT c.c_mktsegment, o.year, count(*) AS n_lines,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM {db}.customer c JOIN {db}.orders o ON c.c_custkey = o.o_custkey
JOIN {db}.lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_mktsegment, o.year""",
    "supplier_nation": """
SELECT n.n_name, r.r_name, count(*) AS n_suppliers,
       CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
FROM {db}.supplier s JOIN {db}.nation n ON s.s_nationkey = n.n_nationkey
JOIN {db}.region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name""",
}


def column_meta(field, partition=False):
    c = {"name": field.name, "type": AGNOSTIC[field.type],
         "description": f"{field.name} column"}
    if partition:
        c["description"] = "partition column"
    return c


def with_year_month(t, date_col):
    d = t.column(date_col).to_numpy().astype("datetime64[M]").astype(np.int64)
    return (t.append_column("year", pa.array(1970 + d // 12, pa.int32()))
             .append_column("month", pa.array(d % 12 + 1, pa.int32())))


def write_warehouse_inputs(out_dir, seed, sf):
    """Source parquet tables, the agnostic metadata folder describing how
    each lands in the warehouse, the example job's employees/teams, and a
    job folder of staged SQL. Orders span three years, so the year/month
    layouts hold 36-40 partition directories per table."""
    tables = tpch_tables(seed, sf, order_days=1095)
    meta_dir = os.path.join(out_dir, "etl", "meta_data", "bench")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, "database.json"), "w") as f:
        json.dump({"description": "benchmark warehouse", "name": "bench",
                   "bucket": "warehouse", "base_folder": "db"}, f, indent=2)
    for name, fmt in WAREHOUSE_TABLES:
        t = tables[name]
        parts = []
        if name in PARTITION_DATE:
            t = with_year_month(t, PARTITION_DATE[name])
            parts = ["year", "month"]
        write_parquet(t, os.path.join(out_dir, "source", f"{name}.parquet"))
        meta = {"$schema": "", "name": name, "description": f"{name} table",
                "data_format": fmt, "location": f"{name}/",
                "columns": [column_meta(f, f.name in parts) for f in t.schema]}
        if parts:
            meta["partitions"] = parts
        with open(os.path.join(meta_dir, f"{name}.json"), "w") as f:
            json.dump(meta, f, indent=2)
    r = rng_for(seed, "employees")
    n_emp = 200
    emp = pa.table({
        "employee_id": pa.array(np.arange(n_emp), pa.int32()),
        "employee_name": [f"emp_{i}_{v}" for i, v in enumerate(r.integers(0, 10_000, n_emp))],
        "employee_dob": pa.array(EPOCH_1995 - r.integers(7000, 20000, n_emp) * US_PER_DAY,
                                 pa.timestamp("us"))})
    members = r.choice(n_emp, n_emp * 3 // 4, replace=False)
    team = pa.table({
        "employee_id": pa.array(np.sort(members), pa.int32()),
        "team_id": pa.array(r.integers(0, 12, len(members)), pa.int32()),
        "team_name": pick(r, ["core", "data", "infra", "ml"], len(members))})
    write_parquet(emp, os.path.join(out_dir, "source", "employees.parquet"))
    write_parquet(team, os.path.join(out_dir, "source", "teams.parquet"))
    job = os.path.join(out_dir, "etl", "glue_jobs", "bench_job")
    os.makedirs(os.path.join(job, "glue_resources"), exist_ok=True)
    with open(os.path.join(job, "job.py"), "w") as f:
        f.write("# staged by the benchmark; the SQL resources are the job\n")
    for name, sql in STAGED_SQL.items():
        with open(os.path.join(job, "glue_resources", f"{name}.sql"), "w") as f:
            f.write(sql.strip().format(db="bench") + "\n")
    return tables


# ---------------------------------------------------------------------- cdc

def write_cdc_inputs(out_dir, seed, sf, batches, batch_share):
    """Base A side (orders keyed by o_orderkey), the customer dimension B,
    the segment dimension C, and `batches` op-tagged change files. Each
    batch touches `batch_share` of the live keys: a third inserts new
    orders, a third updates live ones (new price), a third deletes live
    ones; no key appears twice in one batch."""
    t = tpch_tables(seed, sf)
    orders, cust = t["orders"], t["customer"]
    r = rng_for(seed, "cdc")
    base = pa.table({"o_orderkey": orders.column("o_orderkey"),
                     "o_custkey": orders.column("o_custkey"),
                     "o_totalprice": orders.column("o_totalprice")})
    dim_b = pa.table({"o_custkey": cust.column("c_custkey"),
                      "c_mktsegment": cust.column("c_mktsegment")})
    segs = sorted(set(dim_b.column("c_mktsegment").to_pylist()))
    dim_c = pa.table({"c_mktsegment": segs,
                      "seg_id": pa.array(range(len(segs)), pa.int64()),
                      "seg_name": [f"seg_{s}" for s in segs]})
    write_parquet(base, os.path.join(out_dir, "base.parquet"))
    write_parquet(dim_b, os.path.join(out_dir, "dim_b", "part-0.parquet"))
    write_parquet(dim_c, os.path.join(out_dir, "dim_c", "part-0.parquet"))
    n_cust = cust.num_rows
    live = set(range(orders.num_rows))
    next_key = orders.num_rows
    per_op = max(1, int(orders.num_rows * batch_share) // 3)
    for b in range(batches):
        touched = r.choice(np.fromiter(sorted(live), np.int64), 2 * per_op, replace=False)
        upd, dele = touched[:per_op], touched[per_op:]
        ins = np.arange(next_key, next_key + per_op)
        next_key += per_op
        live.difference_update(dele.tolist())
        live.update(ins.tolist())
        keys = np.concatenate([ins, upd, dele])
        n = len(keys)
        batch = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
            "o_totalprice": money(r, n, 1000, 499000),
            "op": ["I"] * per_op + ["U"] * per_op + ["D"] * per_op})
        write_parquet(batch, os.path.join(out_dir, "batches", f"batch-{b:05d}.parquet"))


def file_digest(root):
    """sha256 over every file under `root` (relative path + bytes), for the
    determinism check."""
    import hashlib
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
