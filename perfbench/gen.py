"""Seeded input generator for the graft benchmark.

Every workload's inputs are made here from the base tables in
``perfbench/data/sf0.01`` and the run's seed; the program under test only
ever sees the files written by this module. The same seed gives
byte-identical files. Alongside the inputs, each generator returns the
reference values the output checks compare against, computed here from the
generated rows and never from the program's output.
"""
import datetime
import functools
import json
import os
import random

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")

# Modulus of the order checksums; the JVM side uses the same arithmetic.
P = 2147483647

# --- sizing ---------------------------------------------------------------
BULK_FILES = 8
BULK_COPIES = 1            # lineitem copies (60k rows each)
BAD_PER_MILLE = 1          # ~0.1 % of rows carry one non-numeric field
UPSERT_COPIES = 4          # standing orders table: 4 x 15k rows
UPSERT_DELTA_ROWS = 6000
UPSERT_POOL = 6            # delta files; ops cycle through them
DEDUP_STORE_DOCS = 1000
DEDUP_BATCH_DOCS = 200
DEDUP_POOL = 24            # batches; a run never absorbs one twice
DEDUP_BUCKETS = 4          # signature-store doc buckets

GATES = ["q1_pricing_summary", "q5_nation_revenue", "q11_date_functions",
         "q13_coerce_numerics", "q20_dedup_ngram", "q21_minhash_lsh",
         "q22_simhash", "q63_curation", "q73_profile", "q88_minhash_sigs",
         "q138_contam_spans", "q143_select_pipeline"]

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
# columns that may receive an injected non-numeric value, by index
BAD_COLS = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax"]
BAD_TOKENS = ["k.A.", "n/v", "12x5", "--"]
MONEY_COLS = {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "o_totalprice"}
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
EPOCH = datetime.datetime(1970, 1, 1)


def target_type(col, source_type):
    """Sink-side type name for a source column, as the load's target
    schema declares it. Matches on the type family, so every timestamp
    flavour (``TIMESTAMP``, ``TIMESTAMP_NTZ``, ``timestamp_ntz``,
    ``TIMESTAMP WITH TIME ZONE``) maps to ``datetime``."""
    t = source_type.strip().lower()
    if t.startswith("timestamp") or t.startswith("datetime"):
        return "datetime"
    if t == "date":
        return "date"
    if t in ("bigint", "long", "int64"):
        return "bigint"
    if t in ("integer", "int", "int32", "smallint", "tinyint"):
        return "int"
    if t in ("double", "float", "real") or t.startswith("decimal"):
        return "decimal(15,2)" if col in MONEY_COLS else "double"
    if t in ("varchar", "string", "text"):
        return "varchar"
    raise ValueError(f"no target type for {col}: {source_type}")


def target_schema(con, table, sizes):
    """[(name, typeName, size)] for a base table, in source order."""
    rows = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{BASE_DIR}/{table}.parquet')"
    ).fetchall()
    return [[r[0], target_type(r[0], r[1]), sizes.get(r[0], 0)] for r in rows]


def de_number(cents):
    """German-locale decimal: '.' groups thousands, ',' marks decimals."""
    assert cents >= 0
    return f"{cents // 100:,}".replace(",", ".") + f",{cents % 100:02d}"


@functools.lru_cache(maxsize=None)
def de_date(days):
    """German-locale date of an epoch day number."""
    return (EPOCH + datetime.timedelta(days=days)).strftime("%d.%m.%Y")


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 1")  # deterministic row order everywhere
    return con


def _write_lines(path, header, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


# --- etl_bulk ---------------------------------------------------------------

def gen_bulk(out_dir, seed):
    """lineitem as German ';'-CSV in BULK_FILES staged files, with ~0.1 %
    of rows carrying one non-numeric value. Returns the manifest entry."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    stride = con.execute(
        f"SELECT max(l_orderkey) + 1 FROM read_parquet('{BASE_DIR}/lineitem.parquet')"
    ).fetchone()[0]
    rows = con.execute(f"""
        SELECT l_orderkey + c.i * {stride} AS ok, l_partkey, l_suppkey,
               l_linenumber, CAST(round(l_quantity * 100) AS BIGINT),
               CAST(round(l_extendedprice * 100) AS BIGINT),
               CAST(round(l_discount * 100) AS BIGINT),
               CAST(round(l_tax * 100) AS BIGINT),
               l_returnflag, l_linestatus, l_shipdate
        FROM read_parquet('{BASE_DIR}/lineitem.parquet'), range({BULK_COPIES}) c(i)
        ORDER BY ok, l_linenumber""").fetchall()
    rng = random.Random(seed * 7919 + 11)
    n = len(rows)
    nbad = max(1, n * BAD_PER_MILLE // 1000)
    bad_rows = dict(zip(sorted(rng.sample(range(n), nbad)),
                        (rng.randrange(len(BAD_COLS)) for _ in range(nbad))))
    numeric = LINEITEM_COLS[:8]
    sums = dict.fromkeys(numeric + ["l_shipdate"], 0)
    nulls = dict.fromkeys(BAD_COLS, 0)
    groups = {}
    lines = []
    for i, r in enumerate(rows):
        vals = list(r[:8])
        text = [str(v) if k < 4 else de_number(v) for k, v in enumerate(vals)]
        bad = bad_rows.get(i)
        if bad is not None:
            col = numeric.index(BAD_COLS[bad])
            text[col] = BAD_TOKENS[rng.randrange(len(BAD_TOKENS))]
            nulls[BAD_COLS[bad]] += 1
            vals[col] = None
        for k, v in zip(numeric, vals):
            if v is not None:
                sums[k] += v
        rf, ls, ship = r[8:]
        days = (ship - EPOCH).days
        sums["l_shipdate"] += days * 86400
        g = groups.setdefault((rf, ls), [0, 0])
        g[0] += 1
        g[1] += vals[4] or 0
        lines.append(";".join(text + [rf, ls, de_date(days)]))
    files = []
    for f in range(BULK_FILES):
        part = lines[f * n // BULK_FILES:(f + 1) * n // BULK_FILES]
        name = f"lineitem_{f:02d}.csv"
        _write_lines(os.path.join(out_dir, name), ";".join(LINEITEM_COLS), part)
        files.append(name)
    schema = target_schema(con, "lineitem", {"l_returnflag": 1, "l_linestatus": 1})
    return {
        "dir": out_dir, "files": files, "header": LINEITEM_COLS,
        "schema": schema,
        "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f)) for f in files),
        "expected": {
            "rows": n, "bad_values": nbad,
            "nulls": nulls,
            # money sums in cents, key sums plain, shipdate in epoch seconds
            "sums": {k: str(v) for k, v in sums.items()},
            "groups": [[rf, ls, g[0], str(g[1])]
                       for (rf, ls), g in sorted(groups.items())],
        },
    }


# --- etl_upsert -------------------------------------------------------------

def order_hash(key, row):
    cust, status, cents, days, prio = row
    return (key * 1000003 + cents * 31 + cust * 7 + days * 13 +
            ord(status[0]) * 17 + ord(prio[0]) * 19) % P


def order_checksum(state):
    """(count, key sum, key-square hash sum, value hash sum) of a
    key -> (custkey, status, cents, days, priority) table."""
    return [len(state), sum(state), sum(k * k % P for k in state),
            sum(order_hash(k, v) for k, v in state.items())]


def _order_line(key, row):
    cust, status, cents, days, prio = row
    return f"{key};{cust};{status};{de_number(cents)};{de_date(days)};{prio}"


def gen_upsert(out_dir, seed):
    """A standing orders table (UPSERT_COPIES x sf0.01) plus a pool of
    delta files: a third of each delta updates standing keys, the rest are
    new keys, and ~5 % of rows repeat a key earlier in the same file."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect()
    base = con.execute(f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT),
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT),
               o_orderpriority
        FROM read_parquet('{BASE_DIR}/orders.parquet') ORDER BY o_orderkey""").fetchall()
    rng = random.Random(seed * 104729 + 3)
    stride = base[-1][0] + 1
    statuses = sorted({r[2] for r in base})
    prios = sorted({r[5] for r in base})
    days_lo, days_hi = min(r[4] for r in base), max(r[4] for r in base)
    standing = []
    for c in range(UPSERT_COPIES):
        for k, cust, st, cents, days, prio in base:
            if c:
                cents = cents + rng.randrange(-5000, 5000) if cents > 5000 else cents
            standing.append((k + c * stride, (cust, st, cents, days, prio)))
    _write_lines(os.path.join(out_dir, "standing.csv"), ";".join(ORDER_COLS),
                 [_order_line(k, v) for k, v in standing])
    nkeys = len(standing)

    def fresh():
        return (rng.randrange(1, 1500), rng.choice(statuses),
                rng.randrange(100000, 50000000),
                rng.randrange(days_lo, days_hi + 1), rng.choice(prios))

    deltas = []
    next_key = UPSERT_COPIES * stride
    for d in range(UPSERT_POOL):
        n_dup = UPSERT_DELTA_ROWS // 20
        n_upd = (UPSERT_DELTA_ROWS - n_dup) // 3
        n_new = UPSERT_DELTA_ROWS - n_dup - n_upd
        keys = [standing[i][0] for i in rng.sample(range(nkeys), n_upd)]
        keys += range(next_key, next_key + n_new)
        next_key += n_new
        rows = [(k, fresh()) for k in keys]
        rng.shuffle(rows)
        rows += [(rows[rng.randrange(len(rows))][0], fresh()) for _ in range(n_dup)]
        name = f"delta_{d:03d}.csv"
        _write_lines(os.path.join(out_dir, name), ";".join(ORDER_COLS),
                     [_order_line(k, v) for k, v in rows])
        deltas.append({"file": name, "rows": len(rows),
                       "bytes": os.path.getsize(os.path.join(out_dir, name))})
    schema = target_schema(con, "orders",
                           {"o_orderstatus": 1, "o_orderpriority": 15})
    return {"dir": out_dir, "standing": "standing.csv", "standing_rows": nkeys,
            "deltas": deltas, "header": ORDER_COLS, "schema": schema}


def parse_order_file(path):
    """Rows of a generated order file as (key, row) in file order —
    the reference the upsert check replays."""
    out = []
    with open(path, encoding="utf-8") as f:
        next(f)
        for line in f:
            k, cust, st, price, date, prio = line.rstrip("\n").split(";")
            cents = int(price.replace(".", "").replace(",", ""))
            d = datetime.datetime.strptime(date, "%d.%m.%Y")
            out.append((int(k), (int(cust), st, cents, (d - EPOCH).days, prio)))
    return out


def upsert_expected(manifest, n_ops):
    """Checksums of the table after each of ``n_ops`` delta loads (cycling
    through the pool), replayed as a plain last-wins dict."""
    state = dict(parse_order_file(os.path.join(manifest["dir"], manifest["standing"])))
    cache = {}
    sums = []
    pool = manifest["deltas"]
    for i in range(n_ops):
        name = pool[i % len(pool)]["file"]
        if name not in cache:
            cache[name] = parse_order_file(os.path.join(manifest["dir"], name))
        state.update(cache[name])
        sums.append([str(x) for x in order_checksum(state)])
    return sums


# --- dedup_ingest -----------------------------------------------------------

def vocabulary(n=600):
    rng = random.Random(20201)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(rng.randrange(2, 4))))
    return sorted(words)


def shingle_set(text, n=3):
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(max(1, len(w) - n + 1))}


def jaccard(a, b):
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _write_docs(path, docs):
    import pyarrow as pa
    table = pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                      "text": pa.array([t for _, t in docs], pa.string())})
    con = _connect()
    con.register("d", table)
    con.execute(f"COPY (SELECT * FROM d ORDER BY doc_id) TO '{path}' (FORMAT parquet)")
    con.close()


def gen_dedup(out_dir, seed):
    """A standing corpus of DEDUP_STORE_DOCS random-word documents and a
    pool of batches; 40 % of a batch's docs are edited copies of an
    earlier doc (store or earlier batch), the rest are new text."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 6151 + 5)
    vocab = vocabulary()

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randrange(30, 80)))

    texts = [doc() for _ in range(DEDUP_STORE_DOCS)]
    _write_docs(os.path.join(out_dir, "store_docs.parquet"), list(enumerate(texts)))
    batches = []
    for b in range(DEDUP_POOL):
        docs, planted = [], []
        first = len(texts)
        for i in range(DEDUP_BATCH_DOCS):
            did = first + i
            if rng.random() < 0.4:
                src = rng.randrange(first)
                words = texts[src].split()
                rate = rng.uniform(0.01, 0.06)
                words = [rng.choice(vocab) if rng.random() < rate else w for w in words]
                planted.append([src, did])
                docs.append(" ".join(words))
            else:
                docs.append(doc())
        texts.extend(docs)
        name = f"batch_{b:03d}.parquet"
        _write_docs(os.path.join(out_dir, name),
                    [(first + i, t) for i, t in enumerate(docs)])
        batches.append({"file": name, "docs": len(docs), "first_id": first,
                        "planted": planted,
                        "bytes": os.path.getsize(os.path.join(out_dir, name))})
    with open(os.path.join(out_dir, "texts.json"), "w") as f:
        json.dump(texts, f)
    return {"dir": out_dir, "store": "store_docs.parquet",
            "store_docs": DEDUP_STORE_DOCS, "batches": batches,
            "texts": "texts.json", "threshold": 0.5, "buckets": DEDUP_BUCKETS,
            "gates": gate_order(seed), "gate_dir": BASE_DIR}


# --- gates ------------------------------------------------------------------

def gate_order(seed):
    """The gates read the base tables as they are; the seed sets the order
    in which a pass visits them."""
    order = list(GATES)
    random.Random(seed).shuffle(order)
    return order


def gen_etl(out_dir, seed):
    return {"bulk": gen_bulk(os.path.join(out_dir, "bulk"), seed),
            "upsert": gen_upsert(os.path.join(out_dir, "upsert"), seed)}


GENERATORS = {"etl": gen_etl, "dedup_ingest": gen_dedup}
