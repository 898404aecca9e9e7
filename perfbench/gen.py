"""Seeded inputs of the graft benchmark, made from the engine's test fixture.

`fixture/sf0.01` is a copy of the sf0.01 test tables (TPC-H-ish star
schema plus `events`, `documents` and `embeddings`). Each workload
scales it with `tools/make_replica.py` (stride-offset copies: keys stay
unique, content replicates verbatim) and then lets the seed decide only
what the workload says it decides: the row order of every table, which
replica documents get a word edited (corpus), and which values the
staging CSV leaves empty (elt). The same seed gives byte-identical files,
and `digest()` records a SHA-256 over them.
"""
import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


def rng_for(seed, stream):
    """Independent, reproducible generator per (seed, table)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def replicate(root, factor, dest):
    """`factor` stride-offset copies of the fixture, one table per file,
    each read back in a canonical (sorted) row order."""
    subprocess.run([sys.executable, os.path.join(root, "tools", "make_replica.py"),
                    FIXTURE, dest, str(factor)], check=True, stdout=subprocess.DEVNULL)
    tables = {}
    for f in sorted(os.listdir(dest)):
        t = pq.read_table(os.path.join(dest, f))
        keys = [(c.name, "ascending") for c in t.schema if not pa.types.is_list(c.type)]
        tables[f[:-len(".parquet")]] = t.sort_by(keys)
    shutil.rmtree(dest)
    return tables


def write_table(tbl, path, seed=None, n_files=1):
    """One parquet file, or a directory of `n_files` files holding the
    rows in a seed-permuted order (contents unchanged)."""
    if seed is None:
        pq.write_table(tbl, path)
        return
    perm = rng_for(seed, "perm:" + os.path.basename(path)).permutation(tbl.num_rows)
    tbl = tbl.take(pa.array(perm))
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def gen_board(root, out, seed, replicas, n_files):
    """The replicated star schema, each table in `n_files` seed-permuted files."""
    for name, tbl in replicate(root, replicas, out + ".replica").items():
        write_table(tbl, os.path.join(out, f"{name}.parquet"), seed, n_files)


def csv_ts(ts):
    """`yyyy/MM/dd hh:mm:ss a`, the staging file's timestamp format."""
    return ts.strftime("%Y/%m/%d %I:%M:%S %p")


def gen_elt(root, out, seed, replicas, n_batches, batch_rows, null_frac=0.02):
    """Staging CSV of the replicated `events`, the dims' source tables,
    and the streaming tail's events.

    The CSV holds the events in seed order, timestamps to the second, and
    a seed-chosen share of `value`/`props` as empty strings (NULLs).
    `truth/events.parquet` holds exactly the values the CSV encodes: the
    oracle reads it instead of trusting the engine's CSV parse. The tail
    is `n_batches` x `batch_rows` fixture events drawn by the seed, given
    new ids and seed-spread timestamps in the hours after the batch data.
    """
    tables = replicate(root, replicas, out + ".replica")
    for d in ("src", "truth", "stage", "tail"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    ev = tables["events"]
    ev = ev.take(pa.array(rng_for(seed, "elt-order").permutation(ev.num_rows)))
    n = ev.num_rows
    r = rng_for(seed, "elt-nulls")
    ts = pc.floor_temporal(ev.column("ts"), unit="second")
    tbl = pa.table({
        "event_id": ev.column("event_id"), "ts": ts, "user_id": ev.column("user_id"),
        "event_type": ev.column("event_type"),
        "value": pa.array(ev.column("value").to_numpy(), mask=r.random(n) < null_frac),
        "props": pa.array(ev.column("props").to_pylist(), pa.string(),
                          mask=r.random(n) < null_frac)})
    pq.write_table(tbl, os.path.join(out, "truth", "events.parquet"))
    rows = zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))
    lines = ["event_id|ts|user_id|event_type|value|props"]
    lines += [f"{i}|{csv_ts(t)}|{u}|{e}|{'' if v is None else repr(v)}|{p or ''}"
              for i, t, u, e, v, p in rows]
    with open(os.path.join(out, "src", "events.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for name in ("orders", "nation", "region"):
        write_table(tables[name], os.path.join(out, "stage", f"{name}.parquet"))
        write_table(tables[name], os.path.join(out, "truth", f"{name}.parquet"))
    # streaming tail: new events after the batch window, in micro-batches
    n_tail = n_batches * batch_rows
    r = rng_for(seed, "tail")
    src = ev.take(pa.array(r.choice(n, n_tail, replace=False)))
    t0 = pc.max(ev.column("ts")).as_py().replace(hour=0, minute=0, second=0, microsecond=0)
    t0 = np.datetime64(t0, "us") + np.timedelta64(1, "D")
    off = np.sort(r.integers(0, n_batches * 600 * 10**6, n_tail))
    first_id = pc.max(ev.column("event_id")).as_py() + 1
    tail = pa.table({
        "event_id": np.arange(first_id, first_id + n_tail, dtype=np.int64),
        "ts": t0 + off.astype("timedelta64[us]"), "user_id": src.column("user_id"),
        "event_type": src.column("event_type"), "value": src.column("value"),
        "props": src.column("props")})
    pq.write_table(tail, os.path.join(out, "tail", "events.parquet"))
    pq.write_table(tail.append_column(
        "batch", pa.array(np.repeat(np.arange(n_batches), batch_rows).astype(np.int32))),
        os.path.join(out, "tail_batches.parquet"))


def gen_corpus(root, out, seed, replicas, edit_frac=0.3):
    """The replicated `documents`: copy r of doc i has doc_id
    i + r * stride and the same text, except that a seed-chosen share of
    the copies (r > 0) has one word replaced by another word of the
    fixture's documents, which turns exact duplicate families into
    near-duplicate families."""
    docs = replicate(root, replicas, out + ".replica")["documents"]
    base = pq.read_table(os.path.join(FIXTURE, "documents.parquet"), columns=["doc_id", "text"])
    stride = pc.max(base.column("doc_id")).as_py() + 1
    vocab = sorted({w for t in base.column("text").to_pylist() for w in t.split(" ")})
    r = rng_for(seed, "corpus")
    texts = docs.column("text").to_pylist()
    ids = docs.column("doc_id").to_pylist()
    edit = r.random(len(texts)) < edit_frac
    for i in np.flatnonzero(edit):
        if ids[i] >= stride:
            w = texts[i].split(" ")
            w[int(r.integers(0, len(w)))] = vocab[int(r.integers(0, len(vocab)))]
            texts[i] = " ".join(w)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))
    write_table(docs, os.path.join(out, "documents.parquet"), seed, 4)


def digest(root):
    """SHA-256 over every generated file (path and bytes), in path order."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
