"""Seeded input generator for the benchmark workloads.

Every table is synthesised from ``--seed`` with NumPy (same seed, same
bytes), in the schemas of the engine's test tables (``events``,
``documents``, ``embeddings``).
The program under test only ever sees the parquet files written here.

Inputs are written once per (workload, seed) under the work directory;
a ``manifest.json`` beside them records what the workload needs to
check outputs (independent NumPy/pyarrow statistics, injected
duplicate and null shares, exact nearest neighbours) and the input
size and file count.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: one operation takes about 0.5-3 s on a 4-core host, nearly
# all of it Spark's fixed cost per job, so a run holds several.
NULL_SHARE = 0.02
STREAM_BATCHES = 32
STREAM_BATCH_ROWS = 2_500
# the stream's value distribution shifts from this batch on; the drift
# baseline is the state before it
SHIFT_AT_BATCH = 1
DOCS = 1_200
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.08
# the shape of the sf0.1 ``embeddings`` table
DIM = 64
ANN_VECTORS = 2_000
ANN_LABELS = 10
ANN_QUERIES = 64
ANN_QUERY_NOISE = 0.1
ANN_K = 10

_WORDS = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter big window stream merge data row key "
          "table query join vector customer the a of to in is for on").split()
_ENTITIES = ("alice@example.com", "bob.smith@mail.org", "555-867-5309",
             "212-555-0147", "https://example.com/docs",
             "http://data.example.org/a", "10.0.0.1", "192.168.1.20",
             "4111 1111 1111 1111", "2024-01-15")


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def _with_nulls(rng, values: np.ndarray, share: float):
    mask = rng.random(len(values)) < share
    return pa.array(values, mask=mask), int(mask.sum())


def _col_stats(table: pa.Table) -> dict:
    """Independent per-column row and null counts, and numeric
    min, max and sum."""
    out = {}
    for name in table.column_names:
        col = table.column(name)
        st = {"rows": table.num_rows, "nulls": col.null_count}
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            vals = col.drop_null().to_numpy().astype(np.float64)
            st.update(min=float(vals.min()), max=float(vals.max()),
                      sum=float(vals.sum()))
        out[name] = st
    return out


def gen_profile_stream(rng, out: str, n_files: int) -> dict:
    n = STREAM_BATCHES * STREAM_BATCH_ROWS
    gaps = rng.exponential(26.0, n)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps * 1e6).astype("timedelta64[us]"))
    value = np.round(rng.lognormal(3.4, 0.9, n), 2)
    # seeded distribution shift: the drift diff_profiles has to surface
    shift = SHIFT_AT_BATCH * STREAM_BATCH_ROWS
    value[shift:] = np.round(value[shift:] * 1.6 + 20.0, 2)
    value_arr, n_null = _with_nulls(rng, value, NULL_SHARE)
    tbl = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1_500, n)),
        "event_type": pa.array(rng.choice(
            ["view", "click", "signup", "purchase", "error"], n,
            p=[0.4, 0.3, 0.1, 0.1, 0.1])),
        "value": value_arr,
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n)]),
    })
    batches = []
    os.makedirs(out, exist_ok=True)
    for b in range(STREAM_BATCHES):
        part = tbl.slice(b * STREAM_BATCH_ROWS, STREAM_BATCH_ROWS)
        p = os.path.join(out, f"batch-{b:05d}.parquet")
        pq.write_table(part, p)
        batches.append({"path": p, "rows": part.num_rows,
                        "stats": _col_stats(part)})
    return {"batches": batches, "rows": n, "files": len(batches),
            "null_share": NULL_SHARE, "injected_nulls": {"value": n_null},
            "shift_at_batch": SHIFT_AT_BATCH}


def _documents(rng, n_files: int, out: str) -> dict:
    """Synthetic corpus with injected exact (case/whitespace) and near
    (one word swapped) duplicates of seeded source documents."""
    n_exact = int(DOCS * EXACT_DUP_SHARE)
    n_near = int(DOCS * NEAR_DUP_SHARE)
    n_base = DOCS - n_exact - n_near
    texts = []
    for _ in range(n_base):
        words = list(rng.choice(_WORDS, rng.integers(8, 90)))
        for _ in range(rng.integers(0, 3)):
            words.insert(rng.integers(0, len(words) + 1),
                         str(rng.choice(_ENTITIES)))
        texts.append(" ".join(words))
    src = rng.integers(0, n_base, n_exact + n_near)
    for i in src[:n_exact]:
        texts.append("  " + texts[i].upper().replace(" ", "   "))
    for i in src[n_exact:]:
        words = texts[i].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        texts.append(" ".join(words))
    perm = rng.permutation(DOCS)
    texts = [texts[i] for i in perm]
    docs = pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], DOCS)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    path = os.path.join(out, "documents")
    files = len(_write_parts(docs, path, n_files))
    return {"path": path, "files": files, "rows": DOCS,
            "exact_dup_share": n_exact / DOCS, "near_dup_share": n_near / DOCS,
            "oracle": _corpus_oracle(docs)}


def _corpus_oracle(docs: pa.Table) -> dict:
    """Expected curation and entity-label outputs, from the engine's
    DuckDB oracle SQL run over the same table."""
    import duckdb

    from dataprofiler_spark.labeler.regex_labeler import \
        oracle_unstructured_entity_counts_sql
    from dataprofiler_spark.operators.pipeline import \
        oracle_corpus_report_sql

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        rep = con.sql(oracle_corpus_report_sql(
            "documents", "doc_id", "text")).fetchall()[0]
        labels = con.sql(oracle_unstructured_entity_counts_sql(
            "documents", "text")).fetchall()
    finally:
        con.close()
    return {"n_docs_in": rep[0], "n_docs_out": rep[1],
            "entity_counts": {lbl: int(n) for lbl, n, _ in labels}}


def _ann_vectors(rng, n_files: int, out: str) -> dict:
    """Vectors shaped like the engine's sf0.1 ``embeddings`` table:
    ANN_VECTORS unit vectors of DIM floats, with a ``label`` in
    0..ANN_LABELS-1 that carries no geometric signal (in that table the
    per-label mean vector has norm 0.06-0.07, what isotropic draws of
    about 200 vectors give). A query is a held-out vector of the same
    distribution plus Gaussian noise of norm about ANN_QUERY_NOISE."""
    n = ANN_VECTORS + ANN_QUERIES
    vecs = rng.normal(0.0, 1.0, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    base = vecs[:ANN_VECTORS].astype(np.float32)
    q = vecs[ANN_VECTORS:] + rng.normal(
        0.0, ANN_QUERY_NOISE / np.sqrt(DIM), (ANN_QUERIES, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(ANN_VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(base), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, ANN_LABELS, ANN_VECTORS,
                                       dtype=np.int32)),
    })
    path = os.path.join(out, "embeddings")
    files = len(_write_parts(table, path, n_files))
    # exact cosine top-k per query: the recall reference
    sims = q @ base.astype(np.float64).T
    exact = np.argsort(-sims, axis=1, kind="stable")[:, :ANN_K]
    return {"path": path, "files": files, "rows": ANN_VECTORS, "dim": DIM,
            "queries": q.tolist(), "exact_top_k": exact.tolist(),
            "k": ANN_K}


def gen_ann_query(rng, out: str, n_files: int) -> dict:
    docs = _documents(rng, n_files, out)
    ann = _ann_vectors(rng, n_files, out)
    return {"documents": docs, "ann": ann,
            "rows": docs["rows"] + ann["rows"],
            "files": docs["files"] + ann["files"]}


GENERATORS = {
    "profile_stream": gen_profile_stream,
    "ann_query": gen_ann_query,
}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def ensure_inputs(work: str, workload: str, seed: int, n_files: int) -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``."""
    out = os.path.join(work, "inputs", f"{workload}-seed{seed}-f{n_files}")
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    man = GENERATORS[workload](rng, tmp, n_files)
    man = json.loads(json.dumps(man).replace(tmp, out))
    man["bytes"] = _dir_bytes(tmp)
    man["seed"] = seed
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return man
