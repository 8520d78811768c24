"""Output checks: gate results against their DuckDB oracle SQL, and the
lake_ingest lake against the generator's own truth."""
import hashlib
import json
import os
import sys

import duckdb

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check  # noqa: E402  (the oracle tables of the repository's own gate)


def canonical_hash(con, relation):
    """check.py's canonical form of a result, computed inside DuckDB: columns
    in name order, every value rendered at full precision (NULL as `NULL`),
    one line per row, the lines sorted, then SHA-256. Returns (column names,
    hash, row count)."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM {relation} LIMIT 0").description)
    line = "concat_ws(chr(1), " + ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), 'NULL')" for c in cols) + ")"
    digest, rows = con.execute(
        f"SELECT sha256(coalesce(string_agg(line, chr(10) ORDER BY line), '')), count(*) "
        f"FROM (SELECT {line} AS line FROM {relation})").fetchone()
    return cols, digest, rows


def oracle_check(sf_dir, dump_dir, gates, cache=None):
    """Compare each gate's dumped result with its oracle SQL run by DuckDB on
    the same tables, by their canonical hashes. Both sides are rendered by the
    same DuckDB casts, so a column whose type differs between them (DOUBLE
    against DECIMAL, say) fails as it does in check.py. Returns failure
    messages; a gate with no dump or no oracle SQL fails.

    `cache`, a JSON file, keeps the oracle side's hash under a key made of the
    oracle SQL and the input tables' bytes, so a later run on the same SQL and
    tables does not run the SQL again."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cached = {}
    if cache and os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
    tables = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            tables.update(name.encode() + b"\0" + f.read())
    con = duckdb.connect()
    for t in check.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for g in gates:
        if g not in oracles:
            failures.append(f"{g}: no oracle SQL")
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP VIEW spark_result AS SELECT * FROM "
                        f"read_parquet('{os.path.join(dump_dir, g)}/*.parquet')")
            spark = canonical_hash(con, "spark_result")
        except Exception as e:  # a missing or unreadable dump is a failed gate
            failures.append(f"{g}: no result dumped ({e})")
            continue
        key = hashlib.sha256(oracles[g].encode() + tables.digest()).hexdigest()
        duck = cached.get(key)
        if duck is None:
            try:
                con.execute("CREATE OR REPLACE TEMP TABLE oracle_result AS "
                            + oracles[g].strip().rstrip(";"))
                duck = cached[key] = list(canonical_hash(con, "oracle_result"))
            except Exception as e:
                failures.append(f"{g}: oracle SQL failed ({e})")
                continue
        if spark[0] != list(duck[0]):
            failures.append(f"{g}: columns differ {spark[0]} vs {duck[0]}")
        elif spark[1] != duck[1]:
            failures.append(f"{g}: result differs from oracle ({spark[2]} vs {duck[2]} rows)")
    if cache:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(cached, f)
        os.replace(cache + ".tmp", cache)
    return failures


def lake_check(truth, raw, accounts_tsv):
    """Compare what the lake holds after the run with the generator's truth.
    Returns failure messages."""
    failures = []
    # the checked lake holds the set-up round 0 and the timed rounds
    done = {0} | {r["round"] for r in raw["rounds"] if r["phase"] == "timed"}
    last = max(done)
    files = [f for f in raw.get("files", []) if f["phase"] in ("setup", "timed")]
    failed = {(o["kind"], os.path.basename(o["name"])) for o in raw["ops"]
              if not o["ok"] and o["phase"] == "timed"}
    loads = [f for f in files if f["kind"] == "file"]
    # every file of a finished round was loaded, or its op failed (and counted)
    expected = {n for n, f in truth["files"].items() if f["round"] in done}
    reported = {f["file"] for f in loads} | {n for k, n in failed if k == "file"}
    if reported != expected:
        failures.append(f"files reported {sorted(reported)} != planned {sorted(expected)}")
    acked = {}
    quarantined = {}
    for f in loads:
        t = truth["files"][f["file"]]
        if f["rows"] + f["quarantined"] != t["rows"]:
            failures.append(f"{f['file']}: {f['rows']} loaded + {f['quarantined']} quarantined "
                            f"!= {t['rows']} offered")
        if f["hash"] != t["sha256"]:
            failures.append(f"{f['file']}: hash {f['hash']} != generator's {t['sha256']}")
        acked[f["table"]] = acked.get(f["table"], 0) + f["rows"]
        quarantined[f["table"]] = quarantined.get(f["table"], 0) + f["quarantined"]
    tables = {t["table"]: t for t in raw.get("tables", [])}
    for table, rows in acked.items():
        got = tables.get(table, {}).get("count")
        if got != rows:
            failures.append(f"table {table}: {got} rows != {rows} acknowledged")
        present = set(tables.get(table, {}).get("hashes", []))
        for f in loads:
            if f["table"] == table and f["rows"] > 0 and truth["files"][f["file"]]["sha256"] not in present:
                failures.append(f"table {table}: rows of {f['file']} missing")
    for table, rows in quarantined.items():
        q = tables.get(f"{table}_quarantine", {}).get("count", 0)
        if q != rows:
            failures.append(f"table {table}_quarantine: {q} rows != {rows} quarantined")
    for f in files:
        if f["kind"] == "replay" and not (f["skipped"] and f["count_before"] == f["count_after"]):
            failures.append(f"replay of {f['file']}: skipped={f['skipped']} "
                            f"count {f['count_before']} -> {f['count_after']}")
    if not any(f["kind"] == "replay" for f in files):
        failures.append("no replay reported")
    for r in raw.get("reads", []):  # every phase's reads
        if not r["equal"]:
            failures.append(f"skipping read {r['op']}: {r['rows']} rows != plain read's {r['plain_rows']}")
    want = gen.expected_accounts(truth, last, {n for k, n in failed if k == "upsert"})
    got = {}
    rows = []
    if os.path.exists(accounts_tsv):
        with open(accounts_tsv) as f:
            rows = [tuple(int(x) for x in line.split("\t")) for line in f]
    for k, v, bal in rows:
        if k in got:
            failures.append(f"accounts: key {k} appears more than once")
        got[k] = (v, bal)
    if set(got) != set(want):
        failures.append(f"accounts: {len(got)} keys != {len(want)} expected "
                        f"({len(set(want) - set(got))} missing, {len(set(got) - set(want))} extra)")
    else:
        wrong = [k for k in want if got[k] != want[k]]
        if wrong:
            failures.append(f"accounts: {len(wrong)} keys hold stale values, e.g. {wrong[0]}")
    return failures
