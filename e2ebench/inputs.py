"""Seeded input generation, the on-disk input cache, and the expected
results each run's output is checked against.

Inputs are made with NumPy + PyArrow, never with Spark, so no Spark job
runs before a workload's cold run. Two recipes:

* ``sequences`` — the ``sources/synth.py`` recipe (FIXTURES.md §1-5):
  ``gen_sequences`` → ``corrupt_sequences(every)`` → ``with_duplicates(101)``
  plus the pristine reference tokens, the ``dim_sources`` dimension and the
  uniform ``ref_distribution``. The seed picks the ordinal window
  ``[offset, offset + n)``, which shifts every corruption and duplicate
  phase. ``tests/test_e2ebench.py`` checks the replica against synth.py.
* ``corpus`` — the curate_pack token corpus: tokens from a seeded
  splitmix64 hash, 90% of documents in source ``cc``, shared boilerplate
  spans planted into ``SPAN_SHARE`` of the documents and exact copies of
  earlier documents in ``COPY_SHARE`` of them.

Each input set lives in ``<work>/inputs/<recipe tag>-s<seed>-n<size>``. It
is written into a private temporary directory and renamed into place, so
two benchmark processes never see a half-written set.

Expected results are computed with DuckDB over the written parquet, in
untimed set-up, independently of the package under test.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ["cc", "wiki", "code", "books"]
VOCABS = {"cc": 50304, "wiki": 32000, "code": 65536, "books": 32000}
MAX_SEQ_LEN = 512
DUP_EVERY = 101
FILES = 8  # parquet files per table: 2 scan tasks per core on local[4]

# curate_pack corpus recipe
CORPUS_VOCAB = 50000
SPAN_LEN = 64
SPAN_POOL = 64
SPAN_SHARE = 0.20
COPY_SHARE = 0.03
NGRAM_K = 8
PACK_CAPACITY = 2048
# the duplicated-window share the corpus recipe must land inside
DUP_WINDOW_BAND = (0.05, 0.20)


# -- cache ------------------------------------------------------------------


def cached(work: Path, tag: str, seed: int, n: int, build) -> Path:
    """The input directory for (tag, seed, n), built by ``build(tmpdir)``
    on a miss. A set counts as present only once its ``expected.json``
    exists, and it appears by an atomic rename of a finished directory."""
    root = work / "inputs"
    root.mkdir(parents=True, exist_ok=True)
    final = root / f"{tag}-s{seed}-n{n}"
    if (final / "expected.json").exists():
        return final
    tmp = Path(tempfile.mkdtemp(prefix=f".{final.name}.", dir=root))
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            # another process finished the same set first; theirs is whole
            if not (final / "expected.json").exists():
                raise
    finally:
        if tmp.exists():
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_files(table: pa.Table, path: Path, files: int = FILES) -> None:
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, path / f"part-{f:03d}.parquet")


def _list_array(flat: np.ndarray, lengths: np.ndarray, valid: np.ndarray | None = None) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    mask = None if valid is None else pa.array(~valid)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, type=pa.int32()), mask=mask
    )


# -- sequences: the synth.py recipe ------------------------------------------


def seq_offset(seed: int) -> int:
    """First ordinal of the seed's window; doc ids keep 8 digits."""
    return (seed % 90) * 1_000_000


def _pristine(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n_tok, flat tokens) of synth.gen_sequences for ordinals i."""
    n_tok = (1 + i % MAX_SEQ_LEN).astype(np.int64)
    vocab = np.array([VOCABS[s] for s in SOURCES], dtype=np.int64)[i % 4]
    row = np.repeat(np.arange(len(i)), n_tok)
    starts = np.zeros(len(i), dtype=np.int64)
    np.cumsum(n_tok[:-1], out=starts[1:])
    j = np.arange(row.size) - starts[row]
    flat = (i[row] * 31 + j * 7) % vocab[row]
    return n_tok, flat


def sequence_tables(seed: int, n: int, every: int) -> dict[str, pa.Table]:
    """sequences, reference_tokens, dim_sources, ref_distribution."""
    i = np.arange(n, dtype=np.int64) + seq_offset(seed)
    n_tok, flat = _pristine(i)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(n_tok[:-1], out=starts[1:])
    doc_id = np.char.mod("doc-%08d", i).astype(object)
    source = np.array(SOURCES, dtype=object)[i % 4]
    ref = pa.table({
        "doc_id": pa.array(doc_id, type=pa.string()),
        "tokens": _list_array(flat, n_tok),
    })

    # corrupt_sequences: mode m = i % every
    m = i % every
    toks = [flat[s : s + k].copy() for s, k in zip(starts, n_tok)]
    for r in np.nonzero(m == 0)[0]:
        toks[r] = toks[r][:0]
    for r in np.nonzero(m == 2)[0]:
        toks[r][0] = -1
    for r in np.nonzero(m == 6)[0]:
        toks[r][-1] = (toks[r][-1] + 1) % 32000
    valid = m != 3
    c_ntok = np.where(m == 0, 0, np.where(m == 1, n_tok + 1, n_tok))
    c_source = np.where(m == 4, "bogus", source).astype(object)
    c_doc = np.where(m == 5, np.char.mod("DOC_%d", i).astype(object), doc_id)
    lengths = np.array([0 if not v else len(t) for t, v in zip(toks, valid)])
    c_flat = np.concatenate([t for t, v in zip(toks, valid) if v])

    # with_duplicates: append rows whose doc_id still parses and i % 101 == 7
    dup = np.nonzero((i % DUP_EVERY == 7) & (m != 5))[0]
    order = np.concatenate([np.arange(n), dup])
    row_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=row_starts[1:])
    d_flat = np.concatenate(
        [c_flat] + [c_flat[row_starts[r] : row_starts[r] + lengths[r]] for r in dup]
    )
    seq = pa.table({
        "doc_id": pa.array(c_doc[order], type=pa.string()),
        "tokens": _list_array(d_flat, lengths[order], valid[order]),
        "n_tok": pa.array(c_ntok[order], type=pa.int32()),
        "source": pa.array(c_source[order], type=pa.string()),
    })
    dim = pa.table({
        "source": SOURCES,
        "vocab_size": pa.array([VOCABS[s] for s in SOURCES], type=pa.int32()),
        "expected_min_tok": pa.array([0] * 4, type=pa.int32()),
        "expected_max_tok": pa.array([VOCABS[s] - 1 for s in SOURCES], type=pa.int32()),
    })
    dist = pa.table({
        "source": [s for s in SOURCES for _ in range(16)],
        "bucket": pa.array([b for _ in SOURCES for b in range(16)], type=pa.int32()),
        "p": [1.0 / 16] * (16 * len(SOURCES)),
    })
    return {"sequences": seq, "reference_tokens": ref, "dim_sources": dim,
            "ref_distribution": dist}


# Per-rule violation counts, written from the rules' documented semantics
# (rules.yaml), in DuckDB over the written parquet.
_RULE_SQL = {
    "doc_id_format": "SELECT count(*) FROM s WHERE NOT regexp_full_match(doc_id, '^doc-\\d{8}$')",
    "tokens_spec": "SELECT coalesce(sum(CASE WHEN tokens IS NULL THEN 1 "
                   "ELSE len(list_filter(tokens, x -> x < 0)) END), 0) FROM s",
    "ntok_consistency": "SELECT count(*) FROM s WHERE NOT coalesce(n_tok = len(tokens), false)",
    "tokens_not_empty": "SELECT count(*) FROM s WHERE tokens IS NOT NULL AND len(tokens) = 0",
    "ntok_bounds": "SELECT count(*) FROM s WHERE n_tok < 1 OR n_tok > 512",
    "doc_id_unique": "SELECT count(*) FROM (SELECT doc_id FROM s GROUP BY doc_id HAVING count(*) > 1)",
    "source_known": "SELECT count(*) FROM s WHERE source NOT IN (SELECT source FROM d)",
    "tokens_in_vocab": "SELECT count(*) FROM s JOIN d USING (source) WHERE len(tokens) > 0 "
                       "AND (list_min(tokens) < 0 OR list_max(tokens) >= vocab_size)",
    "tokens_match_reference": "SELECT count(*) FROM s JOIN r USING (doc_id) "
                              "WHERE coalesce(s.tokens, []) <> coalesce(r.tokens, [])",
    "ntok_drift": """
        WITH h AS (SELECT source AS grp, least(15, greatest(0, floor(n_tok / 32)::int)) AS bucket,
                          count(*) AS cnt FROM s GROUP BY ALL),
             q AS (SELECT grp, bucket, cnt / sum(cnt) OVER (PARTITION BY grp) AS q FROM h),
             j AS (SELECT coalesce(q.grp, p.source) AS grp,
                          greatest(coalesce(q.q, 0), 1e-6) AS qc,
                          greatest(coalesce(p.p, 0), 1e-6) AS pc
                   FROM q FULL OUTER JOIN p ON q.grp = p.source AND q.bucket = p.bucket)
        SELECT count(*) FROM (SELECT grp FROM j GROUP BY grp
                              HAVING sum((qc - pc) * ln(qc / pc)) > 0.25)""",
}


def sequence_expected(path: Path) -> dict:
    import duckdb

    con = duckdb.connect()
    for view, table in (("s", "sequences"), ("r", "reference_tokens"),
                        ("d", "dim_sources"), ("p", "ref_distribution")):
        con.sql(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path / table}/*.parquet')")
    per_rule = {rule: int(con.sql(q).fetchone()[0]) for rule, q in _RULE_SQL.items()}
    rows, tokens = con.sql("SELECT count(*), coalesce(sum(len(tokens)), 0) FROM s").fetchone()
    bad_keys = con.sql(
        "SELECT count(DISTINCT doc_id) FROM s JOIN r USING (doc_id) "
        "WHERE s.tokens IS DISTINCT FROM r.tokens").fetchone()[0]
    con.close()
    return {"per_rule": {k: v for k, v in per_rule.items() if v},
            "rows": int(rows), "tokens": int(tokens), "hash_mismatch_keys": int(bad_keys)}


def sequences(work: Path, seed: int, n: int, every: int) -> Path:
    def build(tmp: Path) -> None:
        for name, table in sequence_tables(seed, n, every).items():
            _write_files(table, tmp / name, FILES if table.num_rows > 1000 else 1)
        (tmp / "expected.json").write_text(json.dumps(sequence_expected(tmp)))

    return cached(work, f"synth-c{every}d{DUP_EVERY}-f{FILES}", seed, n, build)


# -- corpus: the curate_pack recipe ------------------------------------------

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def _h(seed: int, stream: int, x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        key = (np.uint64(seed) * np.uint64(0x100000001B3)
               + np.uint64(stream) * np.uint64(0x1000193)) & _M64
        return _mix(_mix(x.astype(np.uint64) ^ key))


def corpus_table(seed: int, n: int) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    src_h = _h(seed, 1, i)
    source = np.where(
        src_h % np.uint64(10) < np.uint64(9), "cc",
        np.array(SOURCES[1:], dtype=object)[(src_h // np.uint64(10) % np.uint64(3)).astype(np.int64)],
    ).astype(object)
    n_tok = (SPAN_LEN + _h(seed, 2, i) % np.uint64(MAX_SEQ_LEN - SPAN_LEN + 1)).astype(np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(n_tok[:-1], out=starts[1:])
    flat = (_h(seed, 3, np.arange(int(n_tok.sum()))) % np.uint64(CORPUS_VOCAB)).astype(np.int64)

    # boilerplate spans shared by many documents
    pool = (_h(seed, 4, np.arange(SPAN_POOL * SPAN_LEN)) % np.uint64(CORPUS_VOCAB)).astype(np.int64)
    roll = (_h(seed, 5, i) % np.uint64(10_000)).astype(np.int64) / 10_000
    pick = (_h(seed, 6, i) % np.uint64(SPAN_POOL)).astype(np.int64)
    at = (_h(seed, 7, i) % (n_tok - SPAN_LEN + 1).astype(np.uint64)).astype(np.int64)
    for r in np.nonzero(roll < SPAN_SHARE)[0]:
        s = starts[r] + at[r]
        flat[s : s + SPAN_LEN] = pool[pick[r] * SPAN_LEN : (pick[r] + 1) * SPAN_LEN]

    # whole-document copies of an earlier document
    copies = np.nonzero((roll >= SPAN_SHARE) & (roll < SPAN_SHARE + COPY_SHARE) & (i > 0))[0]
    back = 1 + (_h(seed, 8, i) % np.uint64(1000)).astype(np.int64)
    pieces, lengths = [], n_tok.copy()
    copy_of = dict(zip(copies, np.maximum(copies - back[copies], 0)))
    for r in range(n):
        src = copy_of.get(r, r)
        while src in copy_of:  # a copy of a copy copies the original
            src = copy_of[src]
        lengths[r] = n_tok[src]
        pieces.append(flat[starts[src] : starts[src] + n_tok[src]])
    return pa.table({
        "doc_id": pa.array(np.char.mod("cp-%08d", i).astype(object), type=pa.string()),
        "tokens": _list_array(np.concatenate(pieces), lengths),
        "n_tok": pa.array(lengths, type=pa.int32()),
        "source": pa.array(source, type=pa.string()),
    })


def _window_hash_sql(k: int, base: int = 1000003, mod: int = 2147483647, seed: int = 7) -> str:
    """The k-gram polynomial hash the dedup operator documents:
    (seed*base^k + sum_t tok[j0+t] * base^(k-1-t)) mod m, in closed form.
    Tokens are in [0, m), so every product stays below 2^62."""
    pw = [pow(base, e, mod) for e in range(k + 1)]
    terms = " + ".join(f"(tokens[j0 + {t + 1}]::BIGINT * {pw[k - 1 - t]}) % {mod}" for t in range(k))
    return f"(({seed * pw[k] % mod}) + {terms}) % {mod}"


def corpus_expected(path: Path, k: int = NGRAM_K) -> dict:
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW c AS SELECT * FROM read_parquet('{path / 'corpus'}/*.parquet')")
    con.sql(f"""
        CREATE TABLE w AS
        SELECT doc_id, j0, {_window_hash_sql(k)} AS h
        FROM (SELECT doc_id, tokens, unnest(range(0, len(tokens) - {k - 1})) AS j0
              FROM c WHERE len(tokens) >= {k})""")
    con.sql("CREATE TABLE dup AS SELECT h FROM (SELECT DISTINCT doc_id, h FROM w) "
            "GROUP BY h HAVING count(*) >= 2")
    windows, dup_windows = con.sql(
        "SELECT count(*), count(*) FILTER (WHERE h IN (SELECT h FROM dup)) FROM w").fetchone()
    removed = con.sql(f"""
        SELECT count(*) FROM (
          SELECT DISTINCT doc_id, j0 + unnest(range({k})) AS pos
          FROM w SEMI JOIN dup USING (h))""").fetchone()[0]
    rows, tokens = con.sql("SELECT count(*), sum(len(tokens)) FROM c").fetchone()
    con.close()
    return {"rows": int(rows), "tokens": int(tokens), "windows": int(windows),
            "dup_windows": int(dup_windows), "removed": int(removed),
            "dup_window_share": dup_windows / windows}


def corpus(work: Path, seed: int, n: int) -> Path:
    def build(tmp: Path) -> None:
        _write_files(corpus_table(seed, n), tmp / "corpus")
        exp = corpus_expected(tmp)
        lo, hi = DUP_WINDOW_BAND
        if not lo <= exp["dup_window_share"] <= hi:
            raise RuntimeError(
                f"corpus recipe left its band: dup_window_share "
                f"{exp['dup_window_share']:.4f} not in [{lo}, {hi}]")
        (tmp / "expected.json").write_text(json.dumps(exp))

    tag = (f"corpus-k{NGRAM_K}-sp{int(SPAN_SHARE * 100)}x{SPAN_LEN}of{SPAN_POOL}"
           f"-cp{int(COPY_SHARE * 100)}-f{FILES}")
    return cached(work, tag, seed, n, build)
