"""Output checks: every op's result is compared with an independent
computation over the same generated inputs.

- Named queries: the rows the op received are compared with the query's
  `SparkEntry.oracleSql`, run by DuckDB over the generated parquet tables.
  Floats compare at 9 decimals (the convention of tools/verify_local.py).
  A paged op sees at most 11 pages: its token total must equal the oracle's
  row count and its rows must be a sub-multiset of the oracle's rows.
  Oracle results are cached beside the inputs (see Oracle).
- etl_ingest: the final table against the generator's last-write-wins
  state (count plus an order-independent checksum), each daily rollup
  against that state at its day boundary, each latest-partition read
  against the day's record count, and the landed row count against the
  rows sent.
- corpus_curate's streaming landing: the landed row count against a DuckDB
  recount of gated distinct fingerprints.

Each function returns {op index: [messages]}; an entry is a failed op.
"""
import collections
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb
import pyarrow.parquet as pq

import gen

# First page plus ten next pages of 100 rows (graftbench.Main).
PAGED_ROWS = 11 * 100


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _norm_like(v, ref):
    """Normalize a value from Spark's JSON rendering into the domain of the
    oracle's value `ref` (timestamps and dates arrive as strings)."""
    if isinstance(v, str) and isinstance(ref, (datetime.datetime, datetime.date)):
        t = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
        t = t.replace(tzinfo=None) if t.tzinfo is None else \
            t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return _norm(t if isinstance(ref, datetime.datetime) else t.date())
    return _norm(v)


class Oracle:
    """DuckDB over the generated parquet tables. A result depends only on
    the inputs and the SQL text, so it is kept beside the inputs, keyed by
    the SQL's digest, for later runs of the same seed."""

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute(f"SET temp_directory = '{work}/.duckdb_tmp'")
        for p in sorted(glob.glob(f"{inputs}/*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def rows(self, sql: str):
        path = f"{self.inputs}/oracle/{hashlib.sha256(sql.encode()).hexdigest()}.pickle"
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        rel = self.con.sql(sql)
        out = (list(rel.columns), rel.fetchall())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out


def compare_rows(got: list, oracle_cols: list, oracle_rows: list, total=None, limit=None) -> str:
    """Compare Spark rows (dicts from JSON) with oracle rows. For a paged
    result, `total` is the token's row count and `limit` the most rows the
    op pages through: `got` is then the first min(total, limit) rows.
    Returns an error message, or '' when the rows agree."""
    if got and sorted(got[0]) != sorted(oracle_cols):
        return f"columns {sorted(got[0])} != oracle {sorted(oracle_cols)}"
    n = len(oracle_rows)
    if total is not None and total != n:
        return f"token total {total} != oracle rows {n}"
    expected = n if limit is None else min(n, limit)
    if len(got) != expected:
        return f"rows {len(got)} != expected {expected} (oracle rows {n})"
    order = sorted(oracle_cols)
    idx = [oracle_cols.index(c) for c in order]
    ref = [next((r[i] for r in oracle_rows if r[i] is not None), None) for i in idx]
    want = collections.Counter(tuple(_norm(r[i]) for i in idx) for r in oracle_rows)
    have = collections.Counter(tuple(_norm_like(g.get(c), ref[k]) for k, c in enumerate(order))
                               for g in got)
    extra = have - want
    if extra:
        return f"{sum(extra.values())} rows not in the oracle result, e.g. {next(iter(extra))}"
    return ""


def _read_rows(path: str) -> list:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_queries(result: dict, inputs: str, work: str) -> dict:
    """Every query op against its oracle; a paged op (one that carries its
    token total) against the first pages of the oracle's result."""
    oracle = Oracle(inputs, work)
    bad = {}
    for op in result["ops"]:
        if op["kind"] != "query":
            continue
        sql = result["oracle_sql"].get(op["name"])
        if sql is None:
            bad[op["index"]] = [f"{op['name']}: no oracle SQL"]
            continue
        if op.get("error"):
            continue
        cols, rows = oracle.rows(sql)
        got = _read_rows(f"{work}/rows/op-{op['index']:05d}.jsonl")
        total = op["info"].get("total")
        msg = (compare_rows(got, cols, rows) if total is None
               else compare_rows(got, cols, rows, total, PAGED_ROWS))
        if msg:
            bad[op["index"]] = [f"{op['name']}: {msg}"]
    return bad


# ------------------------------------------------------------------ etl

def canonical(rec: dict) -> str:
    """Order-independent row identity: JSON with sorted keys, nulls dropped."""
    def strip(v):
        if isinstance(v, dict):
            return {k: strip(x) for k, x in v.items() if x is not None}
        return v
    return json.dumps(strip(rec), sort_keys=True)


def checksum(rows) -> tuple:
    """(count, sum of row digests mod 2^64): equal for equal multisets."""
    total = 0
    n = 0
    for r in rows:
        total = (total + int.from_bytes(hashlib.sha256(canonical(r).encode()).digest()[:8], "big")) % 2**64
        n += 1
    return n, total


def _table(work: str, name: str) -> list:
    path = f"{work}/warehouse/{name}"
    if not os.path.isdir(path):
        return None
    return pq.read_table(path).to_pylist()


def landing_stats(root: str) -> dict:
    """Data files and lines under a convention dataset root, per partition."""
    parts = {}
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")) or f.endswith(".crc"):
                continue
            p = os.path.join(base, f)
            key = os.path.relpath(base, root).split(os.sep + "batch-")[0]
            st = parts.setdefault(key, {"files": 0, "lines": 0})
            st["files"] += 1
            with open(p, "rb") as fh:
                st["lines"] += sum(1 for line in fh if line.strip())
    return parts


def _day_index(partition: str) -> int:
    kv = dict(seg.split("=", 1) for seg in partition.split(os.sep))
    day = datetime.date(int(kv["year"]), int(kv["month"]), int(kv["day"]))
    return (day - datetime.date(2024, 1, 1)).days


def check_etl(result: dict, inputs: str, work: str) -> tuple:
    """Returns (failures, landing stats for the io metrics)."""
    bad = collections.defaultdict(list)
    ops = result["ops"]
    applied = result["extra"]["batches_applied"]
    per_day = json.load(open(f"{inputs}/manifest.json"))["rows"]["batches_per_day"]
    last = ops[-1]["index"]
    state = {}
    by_batch = {o["info"].get("batch"): o for o in ops if o["kind"] == "batch"}
    for b in range(applied):
        with open(f"{inputs}/etl/batch-{b:05d}.jsonl") as f:
            lines = f.read().splitlines()
        for line in lines:
            rec = json.loads(line)
            state[rec["id"]] = rec
        op = by_batch[b]
        if (b + 1) % per_day == 0 and not op.get("error"):
            day = b // per_day
            if op["info"].get("latest_rows") != per_day * gen.ETL_BATCH:
                bad[op["index"]].append(
                    f"day {day}: latest partition read {op['info'].get('latest_rows')} rows, "
                    f"sent {per_day * gen.ETL_BATCH}")
            got = _table(work, f"records_day_{day}")
            exp = {}
            for r in state.values():
                n, q = exp.get(r["category"], (0, 0))
                exp[r["category"]] = (n + 1, q + r["qty"])
            if got is None or {g["category"]: (g["n"], g["qty"]) for g in got} != exp:
                bad[op["index"]].append(f"day {day}: rollup differs from the expected state")
    final = [r for r in state.values() if r["status"] != "deleted"]
    table = _table(work, "records")
    if table is None or checksum(table) != checksum(final):
        got = "missing" if table is None else checksum(table)
        bad[last].append(f"final table {got} != expected {checksum(final)}")
    parts = landing_stats(f"{work}/land/records")
    landed = sum(p["lines"] for p in parts.values())
    if landed != applied * gen.ETL_BATCH:
        bad[last].append(f"landed {landed} rows, sent {applied * gen.ETL_BATCH}")
    compacted = [k for k in parts if (_day_index(k) + 1) * per_day <= applied]
    stats = {"files_per_partition":
             sum(parts[k]["files"] for k in compacted) / len(compacted) if compacted else 0.0}
    return dict(bad), stats


# ------------------------------------------------------------------ corpus

GATED_FP_SQL = r"""
WITH m AS (
  SELECT text,
    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
    length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS punct,
    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
    len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS h_en,
    len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y|es)\b')) AS h_es,
    len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b')) AS h_de,
    len(regexp_extract_all(lower(text), '\b(?:le|la|les|et|est)\b')) AS h_fr
  FROM documents)
SELECT count(DISTINCT fp) FROM m
WHERE n_words BETWEEN 5 AND 1000 AND punct * 5 < length(text)
  AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en > 0
"""


def check_stream(result: dict, inputs: str, work: str) -> tuple:
    """Streaming landing against the DuckDB recount; returns (failures, stats)."""
    bad = {}
    parts = landing_stats(f"{work}/land/docs")
    landed = sum(p["lines"] for p in parts.values())
    oracle = Oracle(inputs, work)
    want = oracle.con.sql(GATED_FP_SQL).fetchone()[0]
    for op in result["ops"]:
        if op["kind"] == "ingest" and not op.get("error") and landed != want:
            bad[op["index"]] = [f"stream landed {landed} docs, expected {want} gated distinct fps"]
    return bad, {"stream_landed": landed}
