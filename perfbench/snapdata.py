"""Seeded sf-shaped source tables for the snapshot workload, and the
DuckDB check of a snapshot task's output against them.

Four TPC-H-shaped tables (the graft fixture schemas plus an `l_comment`
column) are generated by DuckDB, no download, as a pool holding twice the
rows of one layout, split into disjoint files (row i goes to file i mod F, each file
in hashed row order). A seed's input is a re-layout of that pool: the seed
picks half of each table's files and their order, hard-linked into one
`<table>.parquet` directory. Several files per table matter, because a
single one-row-group file scans on one core. Generating the pool once and
re-laying it per seed keeps per-run input cost near zero, and the per-file
digests make the expected output of any layout a sum.
"""
import hashlib
import json
import os
import random
import shutil

import duckdb

# rows of one layout at scale 1.0 (sf1), and files per layout; the pool
# holds twice of each
TABLES = {
    "lineitem": (6_000_000, 8),
    "orders": (1_500_000, 4),
    "customer": (150_000, 2),
    "part": (200_000, 2),
}

# text columns are slices of this string (a per-row list lookup is ten
# times slower to generate)
TEXT = ("furious sly careful blithe quick fluffy slow quiet ruthless thin "
        "close dogged daring brave stealthy permanent enticing idle busy "
        "regular final pending express special ironic bold even silent ")


def _select(table):
    """SELECT list over `(i, h, g)` rows, where `h` and `g` are two 64-bit
    hashes of the row number and seed: each column takes its own bits."""
    def b(word, shift, mod):
        return f"(({word} >> {shift}) % {mod})"

    def text(shift, n):
        return (f"substr('{TEXT}', {b('g', shift, len(TEXT) - n)}::INT + 1,"
                f" {n})")
    if table == "lineitem":
        return f"""
          (i // 4 + 1)::BIGINT AS l_orderkey,
          ({b('h', 0, 200000)} + 1)::BIGINT AS l_partkey,
          ({b('h', 18, 10000)} + 1)::BIGINT AS l_suppkey,
          (i % 4 + 1)::INT AS l_linenumber,
          ({b('h', 32, 50)} + 1)::DOUBLE AS l_quantity,
          ({b('g', 0, 10000000)} / 100.0)::DOUBLE AS l_extendedprice,
          ({b('h', 38, 11)} / 100.0)::DOUBLE AS l_discount,
          ({b('h', 42, 9)} / 100.0)::DOUBLE AS l_tax,
          ['A','N','R'][{b('h', 46, 3)}::INT + 1] AS l_returnflag,
          ['F','O'][{b('h', 48, 2)}::INT + 1] AS l_linestatus,
          (DATE '1992-01-01' + {b('h', 50, 2500)}::INT) AS l_shipdate,
          {text(24, 27)} AS l_comment"""
    if table == "orders":
        return f"""
          (i + 1)::BIGINT AS o_orderkey,
          ({b('h', 0, 150000)} + 1)::BIGINT AS o_custkey,
          ['F','O','P'][{b('h', 18, 3)}::INT + 1] AS o_orderstatus,
          ({b('g', 0, 50000000)} / 100.0)::DOUBLE AS o_totalprice,
          (DATE '1992-01-01' + {b('h', 20, 2400)}::INT) AS o_orderdate,
          ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
            [{b('h', 32, 5)}::INT + 1] AS o_orderpriority"""
    if table == "customer":
        return f"""
          (i + 1)::BIGINT AS c_custkey,
          'Customer#' || lpad((i + 1)::VARCHAR, 9, '0') AS c_name,
          {b('h', 0, 25)}::INT AS c_nationkey,
          (({b('g', 0, 1100000)}::BIGINT - 100000) / 100.0)::DOUBLE
            AS c_acctbal,
          ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
            [{b('h', 8, 5)}::INT + 1] AS c_mktsegment"""
    if table == "part":
        return f"""
          (i + 1)::BIGINT AS p_partkey,
          {text(24, 22)} AS p_name,
          'Brand#' || ({b('h', 0, 5)} + 1)::VARCHAR
            || ({b('h', 4, 5)} + 1)::VARCHAR AS p_brand,
          upper({text(40, 14)}) AS p_type,
          ({b('h', 8, 50)} + 1)::INT AS p_size,
          ((90000 + {b('h', 16, 110000)}) / 100.0)::DOUBLE AS p_retailprice"""
    raise ValueError(table)


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    return con


def make_pool(pool_dir, scale):
    """Write the pool (replacing `pool_dir`) and each file's digest."""
    if os.path.exists(pool_dir):
        shutil.rmtree(pool_dir)
    os.makedirs(pool_dir)
    con = _connect()
    digests = {}
    for table, (rows, files) in TABLES.items():
        n, nf = max(2 * files, int(2 * rows * scale)), 2 * files
        for f in range(nf):
            path = os.path.join(pool_dir, f"{table}-{f:03d}.parquet")
            con.execute(f"""
              COPY (SELECT {_select(table)} FROM (
                      SELECT i, hash(i) AS h, hash(i, 1) AS g
                      FROM range({n}) t(i) WHERE i % {nf} = {f})
                    ORDER BY g)
              TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 122880)""")
            digests[os.path.basename(path)] = _expected(con, table, path)
    with open(os.path.join(pool_dir, "digests.json"), "w") as fh:
        json.dump(digests, fh, sort_keys=True)
    con.close()


def layout(pool_dir, out_dir, seed):
    """Lay out the seed's input under `out_dir` (replacing it): per table,
    the seed picks half the pool files and their order. Writes
    `expected_counts.txt` (routed table, rows) for the bench and
    `expected.json` with the routed (rows, content hash) per table."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    with open(os.path.join(pool_dir, "digests.json")) as fh:
        digests = json.load(fh)
    rnd = random.Random(seed)
    expected = {}
    for table, (_, files) in TABLES.items():
        pool = sorted(n for n in digests if n.startswith(f"{table}-"))
        tdir = os.path.join(out_dir, f"{table}.parquet")
        os.makedirs(tdir)
        rows, total = 0, 0
        for k, name in enumerate(rnd.sample(pool, files)):
            os.link(os.path.join(pool_dir, name),
                    os.path.join(tdir, f"part-{k:05d}.parquet"))
            rows += digests[name][0]
            total += int(digests[name][1])
        expected[ROUTES[table][0]] = [rows, str(total)]
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True)
    with open(os.path.join(out_dir, "expected_counts.txt"), "w") as fh:
        for t, (c, _) in sorted(expected.items()):
            fh.write(f"{t} {c}\n")


# The snapshot task's routing, restated for the independent check:
# source table -> (routed table, WHERE, dropped columns).
ROUTES = {
    "lineitem": ("dw.lineitem", "true", {"l_comment"}),
    "orders": ("dw.orders", "o_totalprice > 50000", set()),
    "customer": ("dw.clients", "true", set()),
    "part": ("dw.part", "true", set()),
}


def _digest(con, rel, cols):
    """(rows, order-free content hash) of `cols` of a relation; the hash
    of a union is the sum of the parts' hashes."""
    row = ", ".join(f"{c}::VARCHAR" for c in cols)
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {rel}"
    ).fetchone()
    return [n, str(total)]


def _columns(con, rel):
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}")
            .fetchall()]


def _expected(con, table, path):
    """Digest of what the task must write for one source file."""
    _, where, dropped = ROUTES[table]
    src = f"read_parquet('{path}')"
    kept = [c for c in _columns(con, src) if c not in dropped]
    return _digest(con, f"(SELECT * FROM {src} WHERE {where})", kept)


def digest_dir(con, table_dir):
    out = f"read_parquet('{table_dir}/*.parquet')"
    return _digest(con, out, _columns(con, out))


def check(data_dir, sink_dir):
    """Compare each routed output table with the layout's expected rows
    and content hash; returns (tables checked, tables mismatched, notes)."""
    with open(os.path.join(data_dir, "expected.json")) as fh:
        expected = json.load(fh)
    con = _connect()
    failed, notes = 0, []
    for dst, want in sorted(expected.items()):
        path = os.path.join(sink_dir, dst)
        got = digest_dir(con, path) if os.path.isdir(path) else None
        if got != want:
            failed += 1
            notes.append(f"{dst}: want {want} got {got}")
    con.close()
    return len(expected), failed, notes


def fingerprint(data_dir):
    """SHA-256 over every generated file, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(data_dir)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(root, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
