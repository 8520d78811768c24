"""Input generator and truth for the `lake_ingest` workload.

From a seed, writes an inbox of CSV/JSONL files cut from row slices of the
sf0.1 `orders` and `customer` tables, plus Parquet upsert batches, and a plan
(`plan.tsv`) the benchmark JVM executes op by op. Every round loads the same
kinds of file (see `generate`); the seed draws the file sizes, the format of
each round's customer file, the encoding (UTF-8, UTF-8 with BOM,
Windows-1252), the header spelling, whitespace and sentinel dirt, which rows
are overflow-shifted, the upsert keys and their overlap fraction, the read
keys and the op order. All of it stays within what `FilePipeline` documents
it repairs.

The truth (`truth.json`) is what the generator itself knows: rows offered and
the SHA-256 of every file, and every upsert batch's rows. It never comes from
what the program wrote back.
"""
import csv
import hashlib
import io
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ROUNDS = 8  # round 0 is set-up; the timed and traced rounds take the rest
UPSERTS_PER_ROUND = 1
READS = ("point", "range")  # skipping reads per round

# Partition column of each loaded table; the JVM partitions by it.
TABLES = {"orders": "o_orderstatus", "customer": "c_mktsegment"}
SENTINELS = ["N/A", "NULL", "null", "none", "-", "n/a"]
ENCODINGS = ["utf-8", "utf-8-sig", "cp1252"]
BATCH_SCHEMA = pa.schema([("c_custkey", pa.int64()), ("c_mktsegment", pa.string()),
                          ("version", pa.int32()), ("bal_cents", pa.int64())])


def _header_variant(rng, name):
    """A spelling that ColumnNameNormalizer maps back to `name`."""
    return rng.choice([
        name,
        name.upper(),
        "  " + name + " ",
        name.replace("_", " "),
        name.upper().replace("_", "-"),
    ])


def _render(v):
    if v is None:
        return ""
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d")
    return str(v)


def _dirty_rows(rng, rows, table, encoding):
    """String rows with whitespace padding (spaces and tabs) in every string
    column, and null sentinels in the columns that are neither the key nor
    the partition column."""
    key = "o_orderkey" if table == "orders" else "c_custkey"
    part = TABLES[table]
    out = []
    for r in rows:
        rec = []
        for c, v in r.items():
            s = _render(v)
            if c not in (key, part) and rng.random() < 0.03:
                s = rng.choice(SENTINELS)
            elif isinstance(v, str) and rng.random() < 0.1:
                s = rng.choice([" ", "  ", "\t"]) + s + rng.choice(["", " ", "   "])
            if encoding == "cp1252" and c in ("c_name", "o_orderpriority") and rng.random() < 0.3:
                s = s + " café"
            rec.append(s)
        out.append(rec)
    return out


def _csv_line(vals):
    line = io.StringIO()
    csv.writer(line, lineterminator="").writerow(vals)
    return line.getvalue()


def _csv_bytes(headers, rows, shifted, encoding):
    out = [_csv_line(headers)]
    for i, vals in enumerate(rows):
        if i in shifted:
            # an unquoted comma inside the last value: the row gains one
            # token, which overflow repair flags `is_shifted`
            last = vals[-1].strip().ljust(2, "x")
            cut = len(last) // 2
            out.append(_csv_line(vals[:-1]) + "," + last[:cut] + "," + last[cut:])
        else:
            out.append(_csv_line(vals))
    return ("\n".join(out) + "\n").encode(encoding)


def _jsonl_bytes(headers, rows, encoding):
    lines = [json.dumps(dict(zip(headers, vals)), ensure_ascii=False) for vals in rows]
    return ("\n".join(lines) + "\n").encode(encoding)


def generate(seed, sf_dir, out_dir):
    """Write the inbox, upsert batches, plan.tsv and truth.json under
    `out_dir`; return the truth dict."""
    rng = random.Random(seed)
    inbox = os.path.join(out_dir, "inbox")
    batches = os.path.join(out_dir, "batches")
    os.makedirs(inbox)
    os.makedirs(batches)
    src = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}
    cursor = {t: rng.randrange(tbl.num_rows) for t, tbl in src.items()}
    customers = src["customer"].select(["c_custkey", "c_mktsegment"]).to_pydict()
    customer_keys = customers["c_custkey"]
    segment = dict(zip(customer_keys, customers["c_mktsegment"]))
    overlap = rng.uniform(0.1, 0.9)
    truth = {"seed": seed, "overlap": overlap, "files": {}, "batches": {}}
    plan = []
    upserted = []  # keys upserted so far, in first-seen order
    loaded = []  # (file, table, rows) of earlier rounds, in plan order
    n_file = n_batch = 0

    for rnd in range(ROUNDS):
        # The same kinds of file every round, so rounds of different seeds do
        # comparable work: four clean orders CSVs, the first of which opens
        # the round, an orders CSV with overflow-shifted rows, and a customer
        # file whose format the seed draws. The main op is then one of four
        # clean orders CSV loads a round whatever the seed.
        kinds = [("orders", "csv", False)] * 4 + [
            ("orders", "csv", True), ("customer", rng.choice(["csv", "jsonl"]), False)]
        if rnd == 0:
            # set-up creates every table and warms every load path once
            kinds[1:] = [("orders", "csv", True), ("orders", "jsonl", False),
                         ("customer", rng.choice(["csv", "jsonl"]), False)]
        files = []
        for table, fmt, shifts in kinds:
            n = int(round(10 ** rng.uniform(2.0, 2.7)))
            pool = src[table]
            # consecutive rows; a long run wraps around to the table's start
            rows = pool.take([(cursor[table] + j) % pool.num_rows for j in range(n)]).to_pylist()
            cursor[table] += n
            enc = rng.choice(ENCODINGS)
            recs = _dirty_rows(rng, rows, table, enc)
            headers = [_header_variant(rng, c) for c in rows[0]]
            if fmt == "csv":
                shifted = set(rng.sample(range(len(rows)), rng.randint(1, 3))) if shifts else set()
                data = _csv_bytes(headers, recs, shifted, enc)
            else:
                shifted = set()
                data = _jsonl_bytes(headers, recs, enc)
            name = f"f{n_file:03d}_{table}.{fmt}"
            n_file += 1
            with open(os.path.join(inbox, name), "wb") as f:
                f.write(data)
            truth["files"][name] = {
                "table": table, "rows": len(rows), "shifted": len(shifted),
                "sha256": hashlib.sha256(data).hexdigest(), "bytes": len(data),
                "round": rnd}
            files.append((name, table, rows))
        # the round opens with an orders load, so every later op has its table
        first = files[0]
        ops = [("file", f"inbox/{n}", t, TABLES[t]) for n, t, _ in files[1:]]
        available = loaded + [first]
        seen = set(upserted)
        for _ in range(UPSERTS_PER_ROUND):
            n = rng.randint(100, 300)
            n_old = min(int(n * overlap), len(upserted))
            keys = rng.sample(upserted, n_old)
            fresh = [k for k in customer_keys if k not in seen]
            keys += rng.sample(fresh, min(n - n_old, len(fresh)))
            rows = [{"c_custkey": k, "c_mktsegment": segment[k], "version": n_batch,
                     "bal_cents": rng.randrange(-100000, 10000000)} for k in keys]
            upserted += [k for k in keys if k not in seen]
            seen.update(keys)
            name = f"b{n_batch:03d}.parquet"
            n_batch += 1
            path = os.path.join(batches, name)
            pq.write_table(pa.Table.from_pylist(rows, schema=BATCH_SCHEMA), path)
            truth["batches"][name] = {
                "round": rnd, "bytes": os.path.getsize(path),
                "rows": [[r["c_custkey"], r["version"], r["bal_cents"]] for r in rows]}
            ops.append(("upsert", f"batches/{name}"))
        orders_rows = [r for _, t, rows in available if t == "orders" for r in rows]
        for kind in READS:
            r = rng.choice(orders_rows)
            if kind == "point":
                ops.append(("point", "o_custkey", str(r["o_custkey"])))
            else:
                lo = r["o_orderkey"]
                ops.append(("range", "o_orderkey", str(lo), str(lo + rng.randint(50, 2000))))
        replayed = rng.choice([n for n, t, _ in available if t == "orders"])
        ops.append(("replay", f"inbox/{replayed}", "orders", TABLES["orders"]))
        rng.shuffle(ops)
        # upserts keep their batch order, which the truth replays
        slots = [i for i, o in enumerate(ops) if o[0] == "upsert"]
        for i, o in zip(slots, sorted(ops[i] for i in slots)):
            ops[i] = o
        plan.append(("round", str(rnd)))
        plan.append(("file", f"inbox/{first[0]}", first[1], TABLES[first[1]]))
        # the sidecar refresh comes right after the opener: once a table is
        # indexed every append also refreshes its sidecars, so where the
        # refresh sits decides what the round's appends cost
        plan.append(("index",))
        plan += ops
        plan.append(("maintain",))
        plan.append(("endround", str(rnd)))
        loaded += files

    with open(os.path.join(out_dir, "plan.tsv"), "w") as f:
        for op in plan:
            f.write("\t".join(op) + "\n")
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def expected_accounts(truth, last_round, skipped=()):
    """custkey -> (version, bal_cents) after rounds 0..`last_round`, the
    batches applied in plan order (batches named in `skipped`, whose upsert
    failed, left out)."""
    state = {}
    for name in sorted(truth["batches"]):
        b = truth["batches"][name]
        if b["round"] <= last_round and name not in skipped:
            for k, v, bal in b["rows"]:
                state[k] = (v, bal)
    return state
