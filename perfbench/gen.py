"""Seeded input generator for the benchmark workloads.

Corpus tables follow the DuckDB recipe of tools/gen_sf1.py (the driver tables'
schemas and value domains, row counts proportional to the scale factor),
with one change: every random draw is a hash of (row, column tag, seed)
instead of DuckDB's stateful random(), and the writer runs on one thread,
so the same seed gives byte-identical files. ETL batches are JSON records
drawn from Python's seeded Random.

    python3 perfbench/gen.py etl_ingest 7 /tmp/in-etl
    python3 perfbench/gen.py corpus_curate 7 /tmp/in-corpus --scale 0.01
"""
import argparse
import json
import os
import random

import duckdb

# ETL: each batch is one reference insert chunk (bq.py:403) of which a
# stated share updates keys that already exist; the rest are new keys.
# The update share and the day length are assumptions, not measured
# traffic (see perfbench/README.md). A run applies ETL_DAYS whole days of
# batches at scale 1: a fixed amount of work, whatever the program's speed.
ETL_BATCH = 1000
ETL_UPDATE_SHARE = 0.3
ETL_BATCHES_PER_DAY = 4
ETL_DAYS = 6
ETL_CATEGORIES = ["books", "games", "garden", "music", "office", "sports", "tools", "toys"]
ETL_STATUSES = ["active", "active", "active", "pending", "deleted"]

# Corpus: stated shares of exact duplicates (same normalized text under a
# new doc_id), near duplicates (one word changed), PII-bearing documents,
# and embeddings planted next to an earlier vector.
CORPUS_EXACT_DUP_SHARE = 0.10
CORPUS_NEAR_DUP_SHARE = 0.10
CORPUS_PII_SHARE = 0.05
CORPUS_NEIGHBOUR_SHARE = 0.10
CORPUS_STREAM_FILES = 4

# The driver's 31-word document vocabulary (tools/gen_sf1.py).
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

DEFAULT_SCALE = {"corpus_curate": 0.01, "etl_ingest": 1.0}

# Warm-up inputs (`<out>/warmup`): one ETL day, or a corpus at this scale,
# drawn from another seed so that no warm-up row is a measured row.
WARMUP_SCALE = 0.002
WARMUP_SEED_OFFSET = 1_000_003


def _connect(seed: int, out: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one writer thread: stable row and byte order
    con.execute(f"SET temp_directory = '{out}/.duckdb_tmp'")
    # u(i, tag): uniform [0, 1) drawn from (row, column tag, seed) alone
    con.execute(f"CREATE MACRO u(i, tag) AS "
                f"(CAST(hash(i, tag, {int(seed)}) >> 11 AS DOUBLE) / 9007199254740992.0)")
    con.execute("CREATE MACRO pick(i, tag, xs) AS "
                "xs[CAST(floor(u(i, tag) * len(xs)) AS INTEGER) + 1]")
    return con


def _write(con, out: str, name: str, sql: str) -> None:
    con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")


def gen_corpus(con, out: str, scale: float) -> dict:
    n_doc = int(50_000 * scale)
    n_vec = min(n_doc, 2_000)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    # base texts: 8..97 words drawn from the vocabulary
    con.execute(f"""
      CREATE TEMP TABLE base AS
      SELECT i,
             list_transform(range(CAST(floor(u(i, 'len') * 90) AS INTEGER) + 8),
               x -> {vocab}[CAST(floor(u(i * 1000 + x, 'w') * 31) AS INTEGER) + 1]) AS words,
             u(i, 'kind') AS kind,
             CAST(floor(u(i, 'src_of') * greatest(i, 1)) AS BIGINT) AS j
      FROM range({n_doc}) t(i)""")
    e, n, p = CORPUS_EXACT_DUP_SHARE, CORPUS_NEAR_DUP_SHARE, CORPUS_PII_SHARE
    # exact dups re-case and re-space an earlier text (same normalized
    # fingerprint); near dups swap one word of it; PII docs get an email
    # or phone number appended
    _write(con, out, "documents", f"""
      WITH d AS (
        SELECT b.i AS doc_id,
          CASE
            WHEN b.i > 0 AND b.kind < {e} THEN
              upper(s.words[1]) || '  ' || array_to_string(s.words[2:], ' ')
            WHEN b.i > 0 AND b.kind < {e + n} THEN
              array_to_string(list_transform(range(len(s.words)),
                x -> CASE WHEN x = CAST(floor(u(b.i, 'pos') * len(s.words)) AS INTEGER)
                          THEN {vocab}[CAST(floor(u(b.i, 'nw') * 31) AS INTEGER) + 1]
                          ELSE s.words[x + 1] END), ' ')
            WHEN b.kind < {e + n + p} THEN
              array_to_string(b.words, ' ') ||
                CASE WHEN u(b.i, 'pii') < 0.5
                     THEN ' contact user' || CAST(b.i AS VARCHAR) || '@example.com'
                     ELSE ' call +1 555 010 ' || lpad(CAST(b.i % 10000 AS VARCHAR), 4, '0') END
            ELSE array_to_string(b.words, ' ')
          END AS text,
          CASE WHEN u(b.i, 'l1') < 0.43 THEN 'en' WHEN u(b.i, 'l2') < 0.25 THEN 'es'
               WHEN u(b.i, 'l3') < 0.33 THEN 'de' WHEN u(b.i, 'l4') < 0.5 THEN 'fr'
               ELSE 'zh' END AS lang,
          'src' || CAST(b.i % 20 AS VARCHAR) AS source
        FROM base b JOIN base s ON s.i = b.j)
      SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM d ORDER BY doc_id""")
    _write(con, out, "embeddings", f"""
      WITH v AS (
        SELECT i, CAST(floor(u(i, 'nb_of') * greatest(i, 1)) AS BIGINT) AS j,
               i > 0 AND u(i, 'nb') < {CORPUS_NEIGHBOUR_SHARE} AS planted
        FROM range({n_vec}) t(i))
      SELECT v.i AS vec_id,
             list_transform(range(64), x -> CAST(
               u(CASE WHEN v.planted THEN v.j ELSE v.i END * 64 + x, 'e') - 0.5
               + CASE WHEN v.planted THEN (u(v.i * 64 + x, 'jit') - 0.5) * 0.02 ELSE 0 END
               AS FLOAT)) AS embedding,
             CAST(floor(u(v.i, 'label') * 10) AS INTEGER) AS label
      FROM v ORDER BY vec_id""")
    # the same documents as staged JSONL objects for the streaming ingest
    os.makedirs(f"{out}/docs_stream", exist_ok=True)
    step = -(-n_doc // CORPUS_STREAM_FILES)
    for k in range(CORPUS_STREAM_FILES):
        con.execute(f"""COPY (SELECT * FROM '{out}/documents.parquet'
                     WHERE doc_id >= {k * step} AND doc_id < {(k + 1) * step} ORDER BY doc_id)
                     TO '{out}/docs_stream/part-{k:05d}.jsonl' (FORMAT JSON)""")
    return {"documents": n_doc, "embeddings": n_vec, "stream_files": CORPUS_STREAM_FILES}


def etl_record(rng: random.Random, key: int, batch: int) -> dict:
    """One heterogeneous JSON record: optional keys, a nested struct, nulls."""
    rec = {"id": key,
           "category": rng.choice(ETL_CATEGORIES),
           "qty": rng.randrange(1, 100),
           "price": None if rng.random() < 0.1 else round(rng.uniform(1, 1000), 2),
           "status": rng.choice(ETL_STATUSES),
           "batch": batch}
    if rng.random() < 0.9:
        rec["name"] = f"item-{rng.randrange(10_000)}"
    if rng.random() < 0.8:
        rec["meta"] = None if rng.random() < 0.05 else {
            "source": f"s{rng.randrange(6)}",
            "score": None if rng.random() < 0.2 else rng.randrange(10),
            "region": rng.choice(["eu", "us", "apac"])}
    if rng.random() < 0.3:
        rec["note"] = rng.choice(["restock", "promo", "return", "audit"])
    return rec


def etl_batches(seed: int, n_batches: int):
    """Yield the seeded ETL batches: lists of ETL_BATCH records with unique
    keys, ETL_UPDATE_SHARE of them (after the first batch) updating keys
    that earlier batches created."""
    rng = random.Random(seed)
    next_key = 0
    for b in range(n_batches):
        n_upd = 0 if b == 0 else int(ETL_BATCH * ETL_UPDATE_SHARE)
        keys = rng.sample(range(next_key), n_upd) if n_upd else []
        keys += range(next_key, next_key + ETL_BATCH - n_upd)
        next_key += ETL_BATCH - n_upd
        yield [etl_record(rng, k, b) for k in keys]


def gen_etl(out: str, seed: int, n_batches: int) -> dict:
    os.makedirs(f"{out}/etl", exist_ok=True)
    for b, recs in enumerate(etl_batches(seed, n_batches)):
        with open(f"{out}/etl/batch-{b:05d}.jsonl", "w") as f:
            f.write("\n".join(json.dumps(r, sort_keys=True) for r in recs) + "\n")
    return {"batches": n_batches, "batch_size": ETL_BATCH,
            "update_share": ETL_UPDATE_SHARE, "batches_per_day": ETL_BATCHES_PER_DAY}


def generate(workload: str, seed: int, out: str, scale: float = None) -> dict:
    """Write the inputs of `workload` for `seed` under `out`, and the
    warm-up inputs under `out/warmup`; returns the manifest."""
    scale = DEFAULT_SCALE[workload] if scale is None else scale
    warm = f"{out}/warmup"
    os.makedirs(warm, exist_ok=True)
    if workload == "etl_ingest":
        days = max(1, round(ETL_DAYS * scale))
        rows = gen_etl(out, seed, days * ETL_BATCHES_PER_DAY)
        gen_etl(warm, seed + WARMUP_SEED_OFFSET, ETL_BATCHES_PER_DAY)
    else:
        counts = []
        for s, d, sc in ((seed, out, scale), (seed + WARMUP_SEED_OFFSET, warm, WARMUP_SCALE)):
            con = _connect(s, d)
            try:
                counts.append(gen_corpus(con, d, sc))
            finally:
                con.close()
        rows = counts[0]
    manifest = {"workload": workload, "seed": seed, "scale": scale, "rows": rows}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(DEFAULT_SCALE))
    ap.add_argument("seed", type=int)
    ap.add_argument("out")
    ap.add_argument("--scale", type=float, default=None)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.scale)))
