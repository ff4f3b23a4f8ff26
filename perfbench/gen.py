"""Seeded inputs and expected outputs for the product-path pipeline benchmark.

For one (workload, seed, size) this writes the input files, the pipeline
spec JSON of every pipeline the workload runs, and the expected row count
and digest of every sink, into a cache directory keyed by all three. The
engine later receives only these files. A finished entry holds
`manifest.json`, written last, so an interrupted generation is redone.

Expected outputs come from DuckDB queries over the same generated files,
canonicalised as FIXTURES.md section 3 says (declared columns, doubles
rounded to 6 places, NULL distinct from ""), and hashed into an
order-insensitive digest: the row count plus the sum, modulo 2^64, of
the first 8 bytes of each canonical row's SHA-256. `Digest.scala` computes
the same digest over what the sinks hold.

The jsonl shards (etl_lineitem's orders) are compressed by the benchmark's
JVM with the library encoders (zstd-jni, java.util.zip), so here they are
written plain and listed under `compress` in the manifest.
"""

import hashlib
import json
import math
import os
import random
import shutil
import sqlite3

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4  # bump whenever generated inputs change
OUT = "@OUT@"  # replaced by the benchmark with its per-process output dir

SIZES = {
    "bench": {"orders": 20000, "docs": 1200, "catalog_pipelines": 120, "catalog_runs": 600},
    "tiny": {"orders": 400, "docs": 200, "catalog_pipelines": 10, "catalog_runs": 30},
}

WORKLOADS = ("etl_lineitem", "curate_docs")
MASK = (1 << 64) - 1


# --- digest -------------------------------------------------------------

def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        s = "%.6f" % v
        return "0.000000" if s == "-0.000000" else s
    return str(v)


def digest(rows):
    n, acc = 0, 0
    for r in rows:
        line = "\x1f".join(canon(v) for v in r).encode("utf-8")
        acc = (acc + int.from_bytes(hashlib.sha256(line).digest()[:8], "big")) & MASK
        n += 1
    return n, "%016x" % acc


def _duck():
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    return con


def _sink(name, fmt, columns, con, sql):
    n, d = digest(con.execute(sql).fetchall())
    return {"name": name, "format": fmt, "path": f"{OUT}/{name}", "columns": columns,
            "rows": n, "digest": d}


def _write_parts(table, directory, parts):
    os.makedirs(directory, exist_ok=True)
    step = math.ceil(table.num_rows / parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(directory, f"part-{i:05d}.parquet"))


def _write_jsonl_shards(table, raw_dir, shard_dir, parts):
    """Plain jsonl parts under raw_dir (what DuckDB reads), to be encoded
    into shard_dir by the JVM: even parts zstd, odd parts gzip."""
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(shard_dir, exist_ok=True)
    rows = table.to_pylist()
    step = math.ceil(len(rows) / parts)
    compress = []
    for i in range(parts):
        src = os.path.join(raw_dir, f"part-{i:05d}.jsonl")
        with open(src, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows[i * step:(i + 1) * step])
        codec, ext = ("zstd", "zst") if i % 2 == 0 else ("gzip", "gz")
        compress.append({"src": src, "dst": os.path.join(shard_dir, f"part-{i:05d}.jsonl.{ext}"),
                         "codec": codec})
    return compress


# --- etl_lineitem -------------------------------------------------------

def gen_etl(rng, size, d):
    n_orders = size["orders"]
    okeys = rng.permutation(np.arange(1, n_orders + 1, dtype=np.int64))
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_orders // 10 + 2, n_orders, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_orders), 2),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    # 1..7 lines per order in a seeded order, so every seed has the same row count
    lines_per = rng.permutation(np.arange(n_orders) % 7 + 1)
    l_orderkey = np.repeat(okeys, lines_per)
    l_linenumber = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines_per])
    n = len(l_orderkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(1, 20000, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1000, n, dtype=np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipmode": pa.array(rng.choice(
            ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n)),
    })
    _write_parts(lineitem, f"{d}/lineitem", 8)
    compress = _write_jsonl_shards(orders, f"{d}/orders_raw", f"{d}/orders", 4)
    _seed_catalog(random.Random(int(rng.integers(1 << 62))), size, f"{d}/catalog.db")
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "flag", "l_shipmode", "r_o_custkey", "r_o_orderpriority", "r_o_totalprice"]
    spec = {
        "name": "etl_lineitem",
        "description": "lineitem parquet + orders zstd/gzip jsonl -> map -> filter -> join -> "
                       "sort -> parquet + json",
        "sources": [
            {"name": "lineitem", "type": "parquet", "config": {"path": f"{d}/lineitem"}},
            # no compression key: the source sniffs zstd and gzip by magic
            {"name": "orders", "type": "jsonl", "config": {"path": f"{d}/orders"}},
        ],
        "transforms": [
            {"name": "flag", "type": "map",
             "config": {"field": "l_returnflag", "operation": "lower", "as": "flag"},
             "order_index": 0},
            {"name": "big", "type": "filter",
             "config": {"field": "l_quantity", "op": "gt", "value": 24}, "order_index": 1},
            {"name": "with_order", "type": "join",
             "config": {"right": "orders", "left_key": "l_orderkey", "right_key": "o_orderkey"},
             "order_index": 2},
            {"name": "cols", "type": "select", "config": {"fields": cols}, "order_index": 3},
            {"name": "ordered", "type": "sort",
             "config": {"columns": [{"field": "l_orderkey"}, {"field": "l_linenumber"}]},
             "order_index": 4},
        ],
        "sinks": [
            {"name": "lines_parquet", "type": "parquet", "config": {"path": f"{OUT}/lines_parquet"}},
            {"name": "lines_json", "type": "json", "config": {"path": f"{OUT}/lines_json"}},
        ],
    }
    con = _duck()
    sql = f"""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
             lower(l_returnflag) AS flag, l_shipmode, o_custkey, o_orderpriority, o_totalprice
      FROM read_parquet('{d}/lineitem/*.parquet') l
      JOIN read_json('{d}/orders_raw/*.jsonl', format='newline_delimited',
        columns={{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR',
                  'o_totalprice': 'DOUBLE', 'o_orderpriority': 'VARCHAR'}}) o
        ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity > 24"""
    sinks = [_sink("lines_parquet", "parquet", cols, con, sql),
             _sink("lines_json", "json", cols, con, sql)]
    return [{"name": "etl_lineitem", "spec": spec, "input_rows": n + n_orders, "sinks": sinks}], compress


# --- curate_docs --------------------------------------------------------

def _words(rnd, k):
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rnd.choice(alphabet) for _ in range(rnd.randint(2, 9))) for _ in range(k)]


def _pii(rnd):
    kind = rnd.randrange(4)
    if kind == 0:
        return f"{rnd.choice(['ann', 'bob', 'cy', 'dee'])}.{rnd.randint(1, 999)}@mail{rnd.randint(1, 9)}.example.com"
    if kind == 1:
        return f"{rnd.randint(100, 999)}-{rnd.randint(10, 99)}-{rnd.randint(1000, 9999)}"
    if kind == 2:
        return "+" + "".join(str(rnd.randint(0, 9)) for _ in range(rnd.randint(8, 13)))
    return ".".join(str(rnd.randint(0, 255)) for _ in range(4))


def gen_curate(rnd, size, d):
    vocab = _words(rnd, 3000) + ["the", "of", "and", "a", "to", "in", "is"] * 40
    n_base = size["docs"]
    texts = []
    for _ in range(n_base):
        # a tenth are short (below the 20-token quality bar)
        k = rnd.randint(4, 18) if rnd.random() < 0.1 else rnd.randint(20, 160)
        words = [rnd.choice(vocab) for _ in range(k)]
        for _ in range(rnd.randint(0, 3)):
            words.insert(rnd.randrange(len(words) + 1), _pii(rnd))
        sentence = " ".join(words)
        texts.append(sentence[0].upper() + sentence[1:] + ".")
    # fixed share of exact duplicates, plus copies that differ only in PII
    # (identical once redacted)
    rows = list(texts)
    for _ in range(n_base // 4):
        rows.append(rnd.choice(texts))
    for _ in range(n_base // 20):
        t = rnd.choice(texts).split(" ")
        t.insert(rnd.randrange(len(t) + 1), _pii(rnd))
        rows.append(" ".join(t))
    ids = rnd.sample(range(1, 10 * len(rows)), len(rows))
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(rows),
        "lang": pa.array(["en"] * len(rows)),
        "source": pa.array([rnd.choice(["crawl", "books", "forum"]) for _ in rows]),
    })
    _write_parts(docs, f"{d}/docs", 4)
    spec = {
        "name": "curate_docs",
        "description": "Documents -> PII redaction -> quality profile -> filter -> "
                       "content-exact dedup -> train/val/test split -> partitioned parquet",
        "sources": [{"name": "docs", "type": "parquet", "config": {"path": f"{d}/docs"}}],
        "transforms": [
            {"name": "redact", "type": "redact_pii", "config": {"field": "text"}, "order_index": 0},
            {"name": "profile", "type": "text_profile", "config": {}, "order_index": 1},
            {"name": "quality", "type": "filter",
             "config": {"field": "token_count", "op": "ge", "value": 20}, "order_index": 2},
            {"name": "dedup", "type": "dedup_exact",
             "config": {"text_field": "text", "tie_break": "doc_id"}, "order_index": 3},
            {"name": "split", "type": "split",
             "config": {"key": "doc_id", "mod": 100, "train_below": 80, "val_below": 90},
             "order_index": 4},
        ],
        "sinks": [{"name": "curated", "type": "parquet",
                   "config": {"path": f"{OUT}/curated", "partition_by": ["split"]}}],
    }
    con = _duck()
    # the engine's redactPii, tokens and fingerprint, spelled in RE2
    red = "text"
    for pat, rep in [(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
                     (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
                     (r"\+\d{7,15}\b", "<PHONE>"),
                     (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>")]:
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    rows = con.execute(f"""
      WITH r AS (SELECT doc_id, lang, {red} AS text FROM read_parquet('{d}/docs/*.parquet')),
      p AS (SELECT *, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> ''))::BIGINT AS token_count FROM r),
      f AS (SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM p WHERE token_count >= 20),
      k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp)
      SELECT f.doc_id, f.text, f.lang, f.token_count FROM f JOIN k USING (fp, doc_id)""").fetchall()

    def split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 80 else "val" if b < 90 else "test"

    n, dg = digest([(*r, split(r[0])) for r in rows])
    sinks = [{"name": "curated", "format": "parquet", "path": f"{OUT}/curated",
              "columns": ["doc_id", "text", "lang", "token_count", "split"],
              "rows": n, "digest": dg}]
    return [{"name": "curate_docs", "spec": spec, "input_rows": len(ids), "sinks": sinks}], []


# --- the reference-format catalog (etl_lineitem) ----------------------

REFERENCE_DDL = [
    "CREATE TABLE pipelines (id TEXT, name TEXT NOT NULL, description TEXT, "
    "status TEXT NOT NULL DEFAULT 'idle', created_at TEXT NOT NULL, updated_at TEXT NOT NULL, "
    "config TEXT NOT NULL DEFAULT '{}')",
    "CREATE TABLE sources (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, "
    "source_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}', schema TEXT, created_at TEXT NOT NULL)",
    "CREATE TABLE transforms (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, "
    "transform_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}', "
    "depends_on TEXT NOT NULL DEFAULT '[]', order_index INTEGER NOT NULL DEFAULT 0)",
    "CREATE TABLE sinks (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, "
    "sink_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}')",
    "CREATE TABLE runs (id TEXT, pipeline_id TEXT NOT NULL, "
    "status TEXT NOT NULL DEFAULT 'pending', started_at TEXT, finished_at TEXT, "
    "rows_read INTEGER DEFAULT 0, rows_written INTEGER DEFAULT 0, error TEXT, "
    "stats TEXT NOT NULL DEFAULT '{}')",
]


def _seed_catalog(rnd, size, path):
    """Reference-format SQLite catalog with a seeded pipeline and run history."""
    con = sqlite3.connect(path)
    for ddl in REFERENCE_DDL:
        con.execute(ddl)
    ts = "2026-01-01T00:00:00Z"
    pids = []
    for i in range(size["catalog_pipelines"]):
        pid = "%032x" % rnd.getrandbits(128)
        pids.append(pid)
        con.execute("INSERT INTO pipelines VALUES (?,?,?,?,?,?,?)",
                    (pid, f"hist_{i}", "seeded history", "idle", ts, ts, "{}"))
        con.execute("INSERT INTO sources VALUES (?,?,?,?,?,?,?)",
                    (f"{pid}:src:in", pid, "in", "inline",
                     json.dumps({"data": [{"x": j} for j in range(3)]}), None, ts))
        con.execute("INSERT INTO transforms VALUES (?,?,?,?,?,?,?)",
                    (f"{pid}:tr:f", pid, "f", "filter",
                     json.dumps({"field": "x", "op": "gt", "value": 0}), "[]", 0))
        con.execute("INSERT INTO sinks VALUES (?,?,?,?,?)",
                    (f"{pid}:sink:out", pid, "out", "stdout", "{}"))
    for _ in range(size["catalog_runs"]):
        rows = rnd.randint(0, 10 ** 6)
        con.execute("INSERT INTO runs VALUES (?,?,?,?,?,?,?,?,?)",
                    ("%032x" % rnd.getrandbits(128), rnd.choice(pids), "success", ts, ts,
                     rows, rows, None,
                     json.dumps({"duration_ms": rnd.randint(50, 5000), "stage_rows": {"f": rows}})))
    con.commit()
    con.close()


GENERATORS = {"etl_lineitem": gen_etl, "curate_docs": gen_curate}


def generate(workload, seed, size_name, cache_root):
    """Return the manifest path for (workload, seed, size), generating on a miss."""
    size = SIZES[size_name]
    key = hashlib.sha256(json.dumps([GEN_VERSION, size], sort_keys=True).encode()).hexdigest()[:10]
    d = os.path.abspath(os.path.join(cache_root, f"{workload}-s{seed}-{size_name}-{key}"))
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        return manifest
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    # one stream per workload, so a seed gives the same inputs whatever else runs
    salt = WORKLOADS.index(workload)
    rng = (np.random.default_rng([seed, salt]) if workload == "etl_lineitem"
           else random.Random(seed * 16 + salt))
    pipelines, compress = GENERATORS[workload](rng, size, d)
    for p in pipelines:
        p["spec"] = json.dumps(p["spec"])
    m = {"workload": workload, "seed": seed, "size": size_name,
         "catalog": f"{d}/catalog.db" if workload == "etl_lineitem" else None,
         "compress": compress, "pipelines": pipelines}
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, manifest)
    return manifest
