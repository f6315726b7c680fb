"""Seeded input generator for the benchmark.

The base tables are the repository's own sf0.01 test tables (the harness
star schema: region nation customer supplier part orders lineitem events
documents embeddings), copied read-only under `perfbench/data/sf0.01` so
the benchmark reads nothing outside its checkout. Their values never
change, so every run does the same amount of work. The run seed decides
everything a run may vary without changing that work: the row order of
every table, how each table is split into files, and (in the workload
drivers) the query order, the batch composition and the lookup samples.

Each table is written as a directory `<name>.parquet/` of part files;
Spark reads the directory, DuckDB reads `<name>.parquet/*.parquet`.
"""
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
FILES = 4


def base_tables(base_dir=BASE_DIR):
    """The base tables, as stored."""
    return {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}


def permuted(tables, seed):
    """The run's view of the base tables: rows shuffled, and each table of
    100 rows or more cut into FILES parts of roughly equal size at cut
    points jittered by up to a tenth of a part, both decided by `seed`.
    Returns {name: [part tables]}."""
    rng = np.random.default_rng([seed, 1])
    out = {}
    for name in TABLES:
        tbl = tables[name]
        n = tbl.num_rows
        tbl = tbl.take(pa.array(rng.permutation(n)))
        k = FILES if n >= 100 else 1
        part = n / k
        cuts = [int(i * part + rng.uniform(-0.1, 0.1) * part) for i in range(1, k)]
        bounds = [0, *cuts, n]
        out[name] = [tbl.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    return out


def write(parts, out_dir):
    """Write each table as `<out_dir>/<name>.parquet/part-XXXXX.parquet`."""
    for name, pieces in parts.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i, p in enumerate(pieces):
            pq.write_table(p, os.path.join(d, f"part-{i:05d}.parquet"))


def ingest_inputs(documents, seed, n_batches, batch_size, resend_frac,
                  n_probe, out_dir):
    """The ingest series: `n_batches` batches of `batch_size` documents
    built with the replica trick (batch i takes base documents, offsets
    their ids by (i+1)*10^6 and suffixes every token with `~i`), where
    from batch 1 on a `resend_frac` share re-sends documents of earlier
    batches under new ids. After each batch, `n_probe` already-ingested
    texts are sampled as a lookup probe. Which documents go where is
    decided by `seed`. A separate `warm-up` batch and probe (tokens
    suffixed `~w`, under `warm-up/`) only warm the JVM before the timed
    series; `batches/` holds the timed series alone."""
    rng = np.random.default_rng([seed, 2])
    base_ids = documents.column("doc_id").to_numpy()
    base_text = documents.column("text").to_pylist()
    n_resend = int(round(batch_size * resend_frac))
    ingested_ids, ingested_text = [], []
    for d in ("batches", "lookups", "warm-up"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    next_resend_id = 900_000_000
    warm = rng.choice(len(base_ids), batch_size, replace=False)
    warm_text = [" ".join(w + "~w" for w in base_text[j].split(" ")) for j in warm]
    pq.write_table(pa.table({
        "doc_id": pa.array([int(999_000_000 + base_ids[j]) for j in warm], pa.int64()),
        "text": warm_text,
        "embedding": pa.array([[0.5, 0.25, 0.5, 0.75]] * len(warm), pa.list_(pa.float64())),
        "resent": [False] * len(warm)}),
        os.path.join(out_dir, "warm-up", "batch.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1_999_000_000, 1_999_000_000 + n_probe), pa.int64()),
        "text": warm_text[:n_probe]}),
        os.path.join(out_dir, "warm-up", "lookup.parquet"))
    for i in range(n_batches):
        k = batch_size if i == 0 else batch_size - n_resend
        pick = rng.choice(len(base_ids), k, replace=False)
        ids = [int((i + 1) * 1_000_000 + base_ids[j]) for j in pick]
        texts = [" ".join(w + f"~{i}" for w in base_text[j].split(" ")) for j in pick]
        resent = [False] * k
        if i > 0:
            for j in rng.choice(len(ingested_ids), n_resend, replace=False):
                ids.append(next_resend_id)
                texts.append(ingested_text[j])
                resent.append(True)
                next_resend_id += 1
        order = rng.permutation(len(ids))
        ids = [ids[j] for j in order]
        texts = [texts[j] for j in order]
        resent = [resent[j] for j in order]
        emb = [[(zlib.crc32(t.encode()) % 1000) / 1000.0, 0.25, 0.5, 0.75]
               for t in texts]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": texts,
            "embedding": pa.array(emb, pa.list_(pa.float64())),
            "resent": resent}),
            os.path.join(out_dir, "batches", f"batch-{i:05d}.parquet"))
        ingested_ids += ids
        ingested_text += texts
        probe = rng.choice(len(ingested_ids), n_probe, replace=False)
        pq.write_table(pa.table({
            "doc_id": pa.array([2_000_000_000 + i * 1000 + j
                                for j in range(n_probe)], pa.int64()),
            "text": [ingested_text[j] for j in probe],
            "src_id": pa.array([ingested_ids[j] for j in probe], pa.int64())}),
            os.path.join(out_dir, "lookups", f"lookup-{i:05d}.parquet"))
