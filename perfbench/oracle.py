"""Output checks run after the JVM exits, against the catalog's DuckDB
oracle SQL (an engine independent of the one under test).

doc-stream: the streamed curate verdicts equal q79's reasons (low four
bits; the semantic bit is not part of the streaming audit) and the streamed
pack assignments equal q62, both over the delivered documents.

The batch legs of a traced doc-stream run: the timed pass must
  - split its JSONL into documents + quarantine that add up to the input
    lines, with exactly the seeded malformed lines quarantined;
  - write, for each catalog leg, parquet that hash-matches the leg's DuckDB
    oracle SQL over the ingested `documents` table.

The batch legs' oracle hash is cached per seed, corpus digest and oracle SQL under
.bench_build/oracle-cache, so repeated runs of a seed pay for DuckDB once.
Normalization follows tools/check.py: columns sorted by name, values
stringified, rows sorted, dtype kinds kept.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

CACHE = os.path.join(".bench_build", "oracle-cache")


def frame_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = []
    for c in df.columns:
        kinds.append(f"{c}:{df[c].dtype.kind}")
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: v.hex() if isinstance(v, bytes) else str(v))
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(";".join(kinds).encode())
    h.update(df.to_csv(index=False, header=False).encode())
    return h.hexdigest()


def spark_hash(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return "missing"
    return frame_hash(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def oracle_hash(con, sql: str, key: str) -> str:
    path = os.path.join(CACHE, hashlib.sha256(key.encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)["hash"]
    h = frame_hash(con.execute(sql).df())
    os.makedirs(CACHE, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"key": key, "hash": h}, fh)
    return h


def check_doc_batch(rec: dict, seed: int) -> dict:
    files = rec["files"]
    root, passes = files["batch_root"], int(files["batch_passes"])
    lines, malformed = int(rec["run"]["batch_lines"]), int(rec["run"]["batch_malformed"])
    prefix = "oracle.batch."
    legs = sorted(k[len(prefix):] for k in files if k.startswith(prefix))
    con = duckdb.connect()
    checks = {}
    for p in range(passes):
        d = os.path.join(root, f"pass{p}")
        docs = f"read_parquet('{d}/sf/documents.parquet/*.parquet')"
        quar = f"read_parquet('{d}/quarantine.parquet/*.parquet')"
        n_docs = con.execute(f"SELECT count(*) FROM {docs}").fetchone()[0]
        n_quar = con.execute(f"SELECT count(*) FROM {quar}").fetchone()[0]
        checks[f"batch{p}.ingest_split"] = (n_docs + n_quar == lines and n_quar == malformed)
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {docs}")
        for leg in legs:
            sql = files[prefix + leg]
            key = json.dumps([seed, rec["digests"]["jsonl"], leg, sql])
            checks[f"batch{p}.{leg}"] = spark_hash(os.path.join(d, leg)) == oracle_hash(con, sql, key)
    return checks


def check_doc_stream(rec: dict) -> dict:
    files = rec["files"]
    sf, streamed = files["sf"], files["streamed"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet/*.parquet')")
    verdicts = con.execute(
        f"SELECT doc_id, CAST(reasons & 15 AS INTEGER) AS reasons "
        f"FROM ({files['oracle.q79_curation_audit']})").df()
    got = con.execute(
        f"SELECT doc_id, reasons FROM read_parquet('{streamed}/curate/*.parquet')").df()
    pack = con.execute(files["oracle.q62_pack_sequences"]).df()
    got_pack = con.execute(f"SELECT * FROM read_parquet('{streamed}/pack/*.parquet')").df()
    return {
        "curate_matches_q79": len(got) == int(files["delivered"])
        and frame_hash(got) == frame_hash(verdicts),
        "pack_matches_q62": frame_hash(got_pack) == frame_hash(pack),
    }
