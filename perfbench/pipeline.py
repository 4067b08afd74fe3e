"""Inputs and output check of the `pipeline_mix` workload.

`make_tables` writes seeded parquet tables with the columns the graft
queries and their DuckDB oracle SQL read: `lineitem`, `documents` (with
planted near-duplicates, so the dedup queries find pairs) and
`embeddings`. `check` compares each query's parquet output with its
oracle SQL run in DuckDB, by the rule graft's own oracle gate uses:
columns sorted by name, rows sorted by every column, doubles equal to
1e-9 relative, everything else equal as text.
"""
import json
import math
import os
import random

import duckdb

TABLES = ["lineitem", "documents", "embeddings"]
LINEITEM_ROWS = 20000
DOCUMENTS = 800
EMBEDDINGS = 600
DIM = 32
VOCAB = ("spark graph rank edge vertex page link query table scan join sort "
         "hash group filter window stream batch row column value key order "
         "part line data small big fast slow merge agg index vector token "
         "text word near dup shingle band sketch min max sum count mean "
         "level round move label block seed cache plan stage task job "
         "shuffle spill heap core disk file path host node cluster").split()


def _docs(rng):
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    ids, texts, langs, sources = [], [], [], []
    for i in range(DOCUMENTS):
        if i >= 20 and i % 8 == 0:
            # a near-copy of an earlier document of the same source, one
            # token changed
            j = i - 20 * rng.randrange(1, i // 20 + 1)
            toks = texts[j].split()
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        else:
            toks = rng.choices(VOCAB, weights, k=rng.randrange(8, 60))
        ids.append(i)
        texts.append(" ".join(toks))
        langs.append(rng.choice(["en", "de", "zh"]))
        sources.append(f"src{i % 20}")
    return ids, texts, langs, sources


def _embeddings(rng):
    vecs = []
    for _ in range(EMBEDDINGS):
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
    return list(range(EMBEDDINGS)), vecs, [rng.randrange(10) for _ in vecs]


def _lineitem(rng):
    cols = {k: [] for k in ("okey", "pkey", "skey", "line", "qty", "price",
                            "disc", "tax", "flag", "status", "days")}
    for i in range(LINEITEM_ROWS):
        qty = rng.randrange(1, 51)
        cols["okey"].append(i // 4)
        cols["pkey"].append(rng.randrange(1, 2001))
        cols["skey"].append(rng.randrange(1, 101))
        cols["line"].append(i % 4 + 1)
        cols["qty"].append(float(qty))
        cols["price"].append(round(qty * rng.uniform(900.0, 2000.0), 2))
        cols["disc"].append(rng.randrange(0, 11) / 100)
        cols["tax"].append(rng.randrange(0, 9) / 100)
        cols["flag"].append(rng.choice("ARN"))
        cols["status"].append(rng.choice("OF"))
        cols["days"].append(rng.randrange(0, 2500))
    return cols


def make_tables(seed, out_dir):
    """Writes `<out_dir>/<table>.parquet` for every table; the same seed
    writes the same rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    con = duckdb.connect()
    try:
        li = _lineitem(rng)
        con.execute(
            "CREATE TABLE lineitem AS SELECT CAST(unnest(?) AS BIGINT) AS l_orderkey, "
            "CAST(unnest(?) AS BIGINT) AS l_partkey, "
            "CAST(unnest(?) AS BIGINT) AS l_suppkey, "
            "CAST(unnest(?) AS INTEGER) AS l_linenumber, unnest(?) AS l_quantity, "
            "unnest(?) AS l_extendedprice, unnest(?) AS l_discount, "
            "unnest(?) AS l_tax, unnest(?) AS l_returnflag, "
            "unnest(?) AS l_linestatus, "
            "TIMESTAMP '1992-01-02' + to_days(CAST(unnest(?) AS INTEGER)) "
            "AS l_shipdate",
            [li[k] for k in ("okey", "pkey", "skey", "line", "qty", "price",
                             "disc", "tax", "flag", "status", "days")])
        ids, texts, langs, sources = _docs(rng)
        con.execute(
            "CREATE TABLE documents AS SELECT CAST(unnest(?) AS BIGINT) AS doc_id, "
            "unnest(?) AS text, unnest(?) AS lang, unnest(?) AS source",
            [ids, texts, langs, sources])
        con.execute("ALTER TABLE documents ADD COLUMN n_chars BIGINT")
        con.execute("UPDATE documents SET n_chars = length(text)")
        vid, vecs, labels = _embeddings(rng)
        con.execute(
            "CREATE TABLE embeddings AS SELECT CAST(unnest(?) AS BIGINT) AS vec_id, "
            "CAST(unnest(?) AS FLOAT[]) AS embedding, "
            "CAST(unnest(?) AS INTEGER) AS label",
            [vid, vecs, labels])
        for t in TABLES:
            path = os.path.join(out_dir, t + ".parquet")
            con.execute(f"COPY (SELECT * FROM {t} ORDER BY 1) TO '{path}' "
                        "(FORMAT PARQUET)")
    finally:
        con.close()


def _canon(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
    return cols, sorted(rows, key=lambda r: tuple(_key(x) for x in r))


def _key(x):
    if x is None:
        return (2, 0, "")
    if isinstance(x, (int, float)):
        return (0, x, "")
    return (1, 0, str(x))


def _same_cell(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def check(tables_dir, oracle_file, op_dirs):
    """Checks every operation's outputs against the oracle SQL; returns a
    list of (op_dir, problems)."""
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(tables_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{path}')")
        want = {q: _canon(con, sql) for q, sql in oracle.items()}
        out = []
        for d in op_dirs:
            errs = []
            for q, (wcols, wrows) in sorted(want.items()):
                try:
                    gcols, grows = _canon(
                        con, f"SELECT * FROM parquet_scan('{d}/{q}/*.parquet')")
                except duckdb.Error as e:
                    errs.append(f"{q}: {e}")
                    continue
                if gcols != wcols:
                    errs.append(f"{q}: columns {gcols} != {wcols}")
                elif len(grows) != len(wrows):
                    errs.append(f"{q}: {len(grows)} rows != {len(wrows)}")
                elif not wrows:
                    errs.append(f"{q}: no rows")
                else:
                    bad = next(((i, g, w) for i, (g, w) in enumerate(zip(grows, wrows))
                                if not all(map(_same_cell, g, w))), None)
                    if bad:
                        errs.append(f"{q}: row {bad[0]} is {bad[1]}, oracle has {bad[2]}")
            out.append((d, errs))
        return out
    finally:
        con.close()
