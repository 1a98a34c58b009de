"""Output checks. Each takes what the program produced (as the harness
observed it from the committed files) and the generator's reference, and
returns a list of failure messages; an empty list means the output is
correct. None of them reads the program's output through the layer under
test, and none of the references is computed by the program."""
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb

from gen import jaccard


def check_bulk(obs, export, manifest):
    """The bulk load and its exports: committed rows, rejected values per
    column, the load's error sample, exact column sums, the dump's line
    count and the summary export's values."""
    exp = manifest["expected"]
    fails = []
    t = obs["table"]
    if int(t["rows"]) != exp["rows"] or obs["rows"] != exp["rows"]:
        fails.append(f"rows: table {t['rows']}, load {obs['rows']}, want {exp['rows']}")
    nulls = {c: int(t[f"nulls.{c}"]) for c in exp["nulls"]}
    if nulls != exp["nulls"]:
        fails.append(f"rejected values per column {nulls}, want {exp['nulls']}")
    if obs["error_sample"] != min(100, exp["bad_values"]):
        fails.append(f"error sample {obs['error_sample']}, want {min(100, exp['bad_values'])}")
    for c, v in exp["sums"].items():
        if decimal.Decimal(t[f"sums.{c}"]) != decimal.Decimal(v):
            fails.append(f"sum({c}) = {t[f'sums.{c}']}, want {v}")
    if "coerce_error_rows" in obs and obs["coerce_error_rows"] != exp["bad_values"]:
        fails.append(f"coerce error rows {obs['coerce_error_rows']}, want {exp['bad_values']}")
    if export["dump_lines"] != exp["rows"] + 1:
        fails.append(f"dump has {export['dump_lines']} lines, want {exp['rows'] + 1}")
    got = [line.split(";") for line in export["summary_text"].splitlines()[1:]]
    want = exp["groups"]
    if len(got) != len(want) or any(
            g[:3] != [w[0], w[1], str(w[2])] or
            decimal.Decimal(g[3]) * 100 != decimal.Decimal(w[3])
            for g, w in zip(got, want)):
        fails.append(f"summary export {got}, want {want}")
    return fails


def check_upsert(obs, want):
    """The standing table after an upsert against ``want``, the reference
    checksum after this op from gen.upsert_expected."""
    fails = []
    if [str(x) for x in obs["checksum"]] != want:
        fails.append(f"table checksum {obs['checksum']}, want {want}")
    if obs["error_sample"]:
        fails.append(f"{obs['error_sample']} coerce errors on a clean delta {obs['delta']}")
    if obs["rows"] != int(want[0]):
        fails.append(f"load reported {obs['rows']} rows, table has {want[0]}")
    return fails


def check_dedup(obs, manifest, texts, min_recall=0.9):
    """Every verdict pairs a doc that existed before the batch with a batch
    doc at exact shingle Jaccard >= threshold; planted copies that are
    clearly near (exact Jaccard >= 0.7) are found at ``min_recall``; the
    store holds every doc absorbed so far."""
    batch = manifest["batches"][obs["batch"]]
    first, last = batch["first_id"], batch["first_id"] + batch["docs"]
    thr = manifest["threshold"]
    fails = []
    found = set()
    for a, b, j in obs["verdicts"]:
        a, b = int(a), int(b)
        if not (0 <= a < first and first <= b < last):
            fails.append(f"verdict ({a}, {b}) does not pair a standing doc with a batch doc")
            continue
        exact = jaccard(texts[a], texts[b])
        if exact < thr:
            fails.append(f"verdict ({a}, {b}): exact Jaccard {exact:.4f} < {thr}")
        if abs(exact - j) > 0.05:
            fails.append(f"verdict ({a}, {b}): reported {j:.4f}, exact {exact:.4f}")
        found.add((a, b))
    near = [(a, b) for a, b in batch["planted"] if jaccard(texts[a], texts[b]) >= 0.7]
    hit = sum((a, b) in found for a, b in near)
    if near and hit < min_recall * len(near):
        fails.append(f"found {hit} of {len(near)} planted near-duplicates")
    want_docs = manifest["store_docs"] + sum(
        b["docs"] for b in manifest["batches"][:obs["batch"] + 1])
    if obs["store_docs"] != want_docs:
        fails.append(f"store holds {obs['store_docs']} docs, want {want_docs}")
    return fails


# --- gates --------------------------------------------------------------------

def _canon(v):
    """Engine-neutral text of one value: numbers by value (int when
    integral, else 12 significant digits), timestamps without zone,
    lists element-wise, missing values as one token."""
    if v is None:
        return "~"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "~"
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2 ** 53):
            return str(int(v))
        return format(f, ".12g")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def relation_hash(cols, rows):
    """(row count, order-insensitive hash) of a relation: columns sorted by
    name, each row hashed over its canonical values, hashes summed mod
    2^64."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    for r in rows:
        text = "|".join(_canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha1(text.encode()).digest()[:8], "big")) % 2 ** 64
        n += 1
    return n, str(total)


def spark_output_hash(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return 0, "0"
    con = duckdb.connect()
    rows = con.execute("SELECT * FROM read_parquet(?)", [files]).fetchall()
    return relation_hash([d[0] for d in con.description], rows)


def check_gates(out_root, names, expected):
    fails = []
    for g in names:
        n, h = spark_output_hash(os.path.join(out_root, g))
        want = expected[g]
        if [n, h] != [want["rows"], want["hash"]]:
            fails.append(f"{g}: {n} rows hash {h}, oracle {want['rows']} rows hash {want['hash']}")
    return fails
