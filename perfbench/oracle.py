"""Expected results for the benchmark's query outputs, from DuckDB.

Each query's expected result comes from the engine's own declared oracle
SQL (`SparkEntry.oracleSql`), run by DuckDB over the same input files.
Results are compared as digests: columns sorted by name (as
scripts/check.py sorts them), each row rendered canonically, and the
rows folded into an order-insensitive (row count, sum of row hashes)
pair. Digest.scala renders the engine's rows the same way:

  null      -> \\N
  integer   -> decimal
  float     -> hex of the IEEE-754 double bits (exact: the oracle gates
               already demand identical values, not close ones)
  timestamp -> microseconds since the epoch; date -> days
  list      -> [e1,e2,...]
  string    -> itself

fields joined by U+001F; a row's hash is the first 8 bytes of the MD5 of
its UTF-8 rendering, read big-endian, and the hashes add modulo 2^64.
"""
import hashlib
import os
import re
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SEP = "\x1f"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# q_dedup_minhash's declared oracle normalizes text with
# regexp_replace(lower(text), '\s+', ' ', 'g'); RE2's \s is [\t\n\f\r ].
_SPACES = re.compile(r"[\t\n\f\r ]+")


def _shingles(text):
    """The declared oracle's shingle set of one document: distinct
    5-character substrings of the normalized text (the whole text when it
    is shorter). Same as the oracle for the ASCII text the corpus holds."""
    n = _SPACES.sub(" ", text.lower())
    return {n[i:i + 5] for i in range(max(len(n) - 4, 1))}


def _render_column(col):
    """Canonical strings for one arrow column (None for nulls)."""
    t = col.type
    if pa.types.is_timestamp(t):
        ints = col.cast(pa.int64()).to_pylist()
        if t.unit == "ns":
            return [None if v is None else str(v // 1000) for v in ints]
        scale = {"s": 10**6, "ms": 10**3, "us": 1}[t.unit]
        return [None if v is None else str(v * scale) for v in ints]
    if pa.types.is_date32(t):
        return [None if v is None else str(v)
                for v in col.cast(pa.int32()).to_pylist()]
    return [_render_value(v) for v in col.to_pylist()]


def _render_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join("\\N" if e is None else _render_value(e)
                              for e in v) + "]"
    return str(v)


def digest(table):
    """(row count, unsigned 64-bit sum of row hashes) of an arrow table."""
    names = sorted(table.schema.names)
    cols = [_render_column(table.column(n).combine_chunks()) for n in names]
    total = 0
    for row in zip(*cols):
        s = SEP.join("\\N" if v is None else v for v in row)
        h = hashlib.md5(s.encode("utf-8")).digest()[:8]
        total = (total + int.from_bytes(h, "big")) & 0xFFFFFFFFFFFFFFFF
    return table.num_rows, total


def _minhash_pairs(con, block):
    """q_dedup_minhash's declared result, computed exactly without the
    declared all-pairs join (minutes at a few thousand documents): the
    shared-shingle count of every document pair comes from binary
    doc x shingle matrix products, one per pair of `block`-document row
    blocks, over the shingles both blocks contain."""
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").arrow()
    ids = docs.column("doc_id").to_numpy()
    sets = [_shingles(t) for t in docs.column("text").to_pylist()]
    n_docs = len(sets)
    sizes = np.array([len(x) for x in sets], np.int64)
    sizes_f = sizes.astype(np.float32)
    r = np.repeat(np.arange(n_docs), sizes)
    c = pc.dictionary_encode(pa.array(
        [sh for x in sets for sh in x], pa.string())).indices.to_numpy()
    bounds = np.searchsorted(r, np.arange(0, n_docs + block, block))
    blocks = []
    for b in range(len(bounds) - 1):
        rows, cols = r[bounds[b]:bounds[b + 1]], c[bounds[b]:bounds[b + 1]]
        if len(rows):
            off = b * block
            blocks.append((off, min(block, n_docs - off), rows - off, cols,
                           np.unique(cols)))

    def dense(n, rows, cols, shared):
        keep = np.isin(cols, shared)
        m = np.zeros((n, len(shared)), np.float32)
        m[rows[keep], np.searchsorted(shared, cols[keep])] = 1.0
        return m

    out = []
    for i, (off_i, n_i, rows_i, cols_i, uniq_i) in enumerate(blocks):
        for off_j, n_j, rows_j, cols_j, uniq_j in blocks[i:]:
            shared = np.intersect1d(uniq_i, uniq_j, assume_unique=True)
            if not len(shared):
                continue
            common = (dense(n_i, rows_i, cols_i, shared)
                      @ dense(n_j, rows_j, cols_j, shared).T)
            union = (sizes_f[off_i:off_i + n_i, None]
                     + sizes_f[None, off_j:off_j + n_j] - common)
            hit = common * 2 >= union
            if off_i == off_j:
                hit = np.triu(hit, 1)
            a, b = np.nonzero(hit)
            inter = common[a, b].astype(np.int64)
            a, b = a + off_i, b + off_j
            out.append((ids[a], ids[b], inter, sizes[a] + sizes[b] - inter))
    cols = [np.concatenate([o[k] for o in out]) if out
            else np.zeros(0, np.int64) for k in range(4)]
    return pa.table({"id_a": cols[0], "id_b": cols[1],
                     "n_common": cols[2], "n_union": cols[3]})


def expected_digests(data_dir, oracle_sql, temp_dir, minhash_block=2500):
    """{query: (rows, hash)} for each (query -> declared SQL) given, over
    the tables found in `data_dir` (files, or directories of parts).
    DuckDB spills to `temp_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracle_sql.items():
        if name == "q_dedup_minhash":
            out[name] = digest(_minhash_pairs(con, minhash_block))
        else:
            out[name] = digest(con.sql(sql).arrow())
    con.close()
    return out
