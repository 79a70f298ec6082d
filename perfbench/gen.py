"""Seeded input generators for the benchmark, cached as parquet by (kind, seed, size).

The benchmark owns its inputs: nothing here imports ``cuckoofilter_spark``, so a
change to the program cannot change what is measured.

* ``tokens``   -- FIXTURES.md section 1: per-doc length in [32, 512] and
  Zipf-ish token values in [0, 50_000), drawn by a per-doc PRNG seeded
  ``seed ^ doc_index``; docs are split over files the way ``spark.range`` splits
  its rows, so seed 42 / 400_000 docs / 64 files is bit-identical to the corpus
  ``bench.py`` builds.
* ``nonmember_tokens`` -- FIXTURES.md section 2: tokens from 60_000 upwards,
  disjoint from the vocabulary (the section 2 range [60_000, 110_000) is its
  prefix).
* ``distinct`` -- distinct int64 keys shaped like n-gram / document hashes:
  a bijective 64-bit mix of consecutive indices, so distinctness holds by
  construction.  Non-members come from the same bijection on a disjoint
  index range.
* ``probe`` -- a probe table ``(key int64, is_member bool)`` with half its
  rows drawn from the filter's keys and half from the non-member range.

Every dataset carries an md5 content digest, recorded when it is generated
and recomputed from the parquet files each time it is loaded.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
NONMEMBER_BASE = 60_000
SOURCES = np.array(["web", "books", "code", "wiki"])
_SRC_CUM = np.cumsum([0.7, 0.15, 0.1, 0.05])

_M64 = (1 << 64) - 1


def _mix64(x: np.ndarray) -> np.ndarray:
    """Bijective 64-bit mix (odd multiply, xor-shift, odd multiply, xor-shift):
    distinct inputs give distinct outputs."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x *= np.uint64(0xD6E8FEB86659FD93)
        x ^= x >> np.uint64(32)
        x *= np.uint64(0xD6E8FEB86659FD93)
        x ^= x >> np.uint64(32)
    return x


def _key_stream(seed: int, start: int, n: int) -> np.ndarray:
    """Distinct int64 keys number ``start .. start+n-1`` of seed ``seed``."""
    base = (int(seed) << 40) & _M64
    idx = np.arange(start, start + n, dtype=np.uint64) + np.uint64(base)
    return _mix64(idx).view(np.int64)


def _spark_range_bounds(n: int, parts: int) -> list[tuple[int, int]]:
    """Row ranges of ``spark.range(0, n, numPartitions=parts)``."""
    return [(i * n // parts, (i + 1) * n // parts) for i in range(parts)]


def token_docs(seed: int, lo: int, hi: int) -> tuple[list[np.ndarray], list[str]]:
    """Token arrays and sources of docs ``lo .. hi-1`` (FIXTURES.md section 1)."""
    toks, srcs = [], []
    for i in range(lo, hi):
        rng = np.random.default_rng(np.uint64(seed) ^ np.uint64(i))
        length = 32 + int(rng.integers(0, 481))
        u = rng.random(length)
        toks.append((u**3 * VOCAB).astype(np.int32))
        srcs.append(SOURCES[int(np.searchsorted(_SRC_CUM, rng.random()))])
    return toks, srcs


def _tokens_table(seed: int, lo: int, hi: int) -> pa.Table:
    toks, srcs = token_docs(seed, lo, hi)
    lens = np.array([len(t) for t in toks], dtype=np.int32)
    offsets = np.zeros(len(toks) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.concatenate(toks) if toks else np.empty(0, np.int32)
    return pa.table({
        "doc_id": pa.array([f"doc{i:08d}" for i in range(lo, hi)], pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(lens),
        "source": pa.array(srcs, pa.string()),
    })


def _digest_update(h, table: pa.Table) -> None:
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_list(col.type):
            h.update(np.asarray(col.offsets).astype(np.int64).tobytes())
            h.update(np.asarray(col.flatten()).tobytes())
        elif pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        else:
            h.update(np.asarray(col).tobytes())


class Dataset:
    """A cached set of parquet files plus its manifest (digest, counts)."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.manifest = manifest

    @property
    def files(self) -> list[str]:
        return [os.path.join(self.path, f) for f in self.manifest["files"]]

    @property
    def digest(self) -> str:
        return self.manifest["digest"]

    def content_digest(self) -> str:
        h = hashlib.md5()
        for f in self.files:
            _digest_update(h, pq.read_table(f))
        return h.hexdigest()


def _materialize(root: str, name: str, tables, extra=None) -> Dataset:
    """Write ``tables`` (an iterable of pa.Table, one per file) under
    ``root/name`` unless a complete copy with a matching digest is cached."""
    path = os.path.join(root, name)
    man_path = os.path.join(path, "_manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            ds = Dataset(path, json.load(f))
        if ds.content_digest() == ds.digest:
            return ds
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    h = hashlib.md5()
    names = []
    rows = 0
    for k, t in enumerate(tables):
        fname = f"part-{k:05d}.parquet"
        pq.write_table(t, os.path.join(tmp, fname), compression="zstd",
                       use_dictionary=False)
        _digest_update(h, t)
        names.append(fname)
        rows += t.num_rows
    manifest = {"files": names, "rows": rows, "digest": h.hexdigest()}
    manifest.update(extra(tmp, names) if extra else {})
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, path)
    return Dataset(path, manifest)


def tokens(root: str, seed: int, n_docs: int, n_files: int) -> Dataset:
    """FIXTURES.md section 1 corpus; the manifest holds the token count."""
    def extra(tmp, names):
        counts = np.zeros(VOCAB, dtype=np.int64)
        for n in names:
            c = pq.read_table(os.path.join(tmp, n), columns=["tokens"])
            counts += np.bincount(np.asarray(c.column(0).combine_chunks().flatten()),
                                  minlength=VOCAB)
        np.save(os.path.join(tmp, "_counts.npy"), counts)
        return {"n_tokens": int(counts.sum()), "n_distinct": int((counts > 0).sum())}

    tables = (_tokens_table(seed, lo, hi) for lo, hi in _spark_range_bounds(n_docs, n_files))
    return _materialize(root, f"tokens-s{seed}-d{n_docs}-f{n_files}", tables, extra)


def token_counts(ds: Dataset) -> np.ndarray:
    """Exact per-token frequencies of a ``tokens`` dataset (index = token)."""
    return np.load(os.path.join(ds.path, "_counts.npy"))


def nonmember_tokens(n: int, start: int = 0) -> np.ndarray:
    """Non-members ``start .. start+n-1`` of FIXTURES.md section 2: its range
    [60_000, 110_000) is the first 50_000, extended upwards past that."""
    return np.arange(NONMEMBER_BASE + start, NONMEMBER_BASE + start + n, dtype=np.int64)


def distinct(root: str, seed: int, n_keys: int, n_files: int) -> Dataset:
    """``n_keys`` distinct int64 keys split evenly over ``n_files`` files."""
    tables = (pa.table({"key": _key_stream(seed, lo, hi - lo)})
              for lo, hi in _spark_range_bounds(n_keys, n_files))
    return _materialize(root, f"distinct-s{seed}-n{n_keys}-f{n_files}", tables)


def distinct_keys(seed: int, n_keys: int) -> np.ndarray:
    return _key_stream(seed, 0, n_keys)


def distinct_nonmembers(seed: int, n_keys: int, n: int, start: int = 0) -> np.ndarray:
    """Keys of the same bijection past the member range: never members."""
    return _key_stream(seed, n_keys + start, n)


def probe(root: str, seed: int, n_keys: int, n_rows: int, n_files: int) -> Dataset:
    """Probe table: even rows are members drawn from ``distinct_keys(seed,
    n_keys)``, odd rows non-members; rows are then shuffled."""
    rng = np.random.default_rng([seed, 3])
    half = n_rows // 2
    members = distinct_keys(seed, n_keys)[rng.integers(0, n_keys, half)]
    nonmembers = distinct_nonmembers(seed, n_keys, n_rows - half)
    key = np.concatenate([members, nonmembers])
    is_member = np.zeros(n_rows, dtype=bool)
    is_member[:half] = True
    order = rng.permutation(n_rows)
    key, is_member = key[order], is_member[order]
    tables = (pa.table({"key": key[lo:hi], "is_member": is_member[lo:hi]})
              for lo, hi in _spark_range_bounds(n_rows, n_files))
    return _materialize(root, f"probe-s{seed}-k{n_keys}-n{n_rows}-f{n_files}", tables,
                        lambda tmp, names: {"n_members": half})
