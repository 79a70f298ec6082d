"""FASTA k-mer source — literal parity with the reference's only file
source (``FASTA/fasta_reader.cpp:11-83``, ``FASTA/fasta_iterator.cpp``).

Reference semantics, reproduced exactly:

- lines are consumed until the first ``>`` header; its text (sans ``>``)
  is the sequence identifier (``fasta_reader.cpp:27-36``);
- every subsequent line is concatenated into one buffer verbatim — the
  reference does NOT treat later ``>`` lines specially
  (``prepareNext``, ``fasta_reader.cpp:50-60``), i.e. one record per file;
- k-mers are stride-1 windows of length k over that buffer
  (``nextKMere``, ``fasta_reader.cpp:66-75``), crossing line boundaries.

Spark mapping: the unit of parallelism is a fixed-size BYTE RANGE of a
file (``chunk_bytes``, default 16 MiB), so one monster genome fans out
across tasks instead of serializing into one task's memory: a tiny header
scan finds where sequence bytes start, each task streams its range,
strips newlines, and reads ahead exactly k-1 sequence bytes so windows
crossing the cut are emitted by the chunk they START in — the k-mer
stream is provably identical to the whole-file parse (pytest-gated).
Chunk byte-offsets are CHAR offsets only for ASCII payloads (every real
genome); the whole-file path stays the reference-exact fallback for
exotic encodings.  K-mer hashing is the vectorized byte-Horner
kernel shared with the token n-gram path (``operators/kmers.py``): the
window hash is computed over the raw sequence bytes with NumPy
``sliding_window_view`` — no per-window string materialization, no per-row
Python — standing in for the reference's CityHash64-over-string
(``Utils/hash_function.cpp:64-68``; the FPR bound is hash-agnostic,
SURVEY §2.4 #25).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.operators.build import finish_filter, map_units, new_filter
from cuckoofilter_spark.operators.kmers import ngram_hashes
from cuckoofilter_spark.params import CuckooParams


def parse_fasta(text: str) -> tuple[str, str]:
    """(identifier, concatenated sequence) with reference-exact parsing."""
    lines = text.split("\n")
    i = 0
    ident = ""
    while i < len(lines):
        line = lines[i]
        i += 1
        if not line:
            continue
        if line.startswith(">"):
            ident = line[1:]
            break
    return ident, "".join(l for l in lines[i:])


def _read_text(path: str) -> str:
    if "://" in path:
        from pyarrow import fs as pafs

        f, p = pafs.FileSystem.from_uri(path)
        return f.open_input_file(p).read().decode("utf-8", errors="replace")
    with open(path, encoding="utf-8", errors="replace") as fh:
        return fh.read()


def _open_stream(path: str):
    """Seekable binary input stream for a local path or a filesystem URI."""
    if "://" in path:
        from pyarrow import fs as pafs

        f, p = pafs.FileSystem.from_uri(path)
        return f.open_input_file(p)
    return open(path, "rb")


def _file_size(path: str) -> int:
    if "://" in path:
        from pyarrow import fs as pafs

        f, p = pafs.FileSystem.from_uri(path)
        return f.get_file_info(p).size
    import os

    return os.path.getsize(path)


def header_scan(path: str, block: int = 65536) -> tuple[str, int]:
    """(identifier, byte offset where sequence bytes start) — reads only
    until the first ``>`` header line ends (reference semantics: every
    line before the first ``>`` is discarded, ``fasta_reader.cpp:27-36``;
    no ``>`` line at all ⇒ empty identifier and empty sequence)."""
    buf = b""
    base = 0
    with _open_stream(path) as fh:
        while True:
            chunk = fh.read(block)
            buf += chunk
            # scan complete lines in the buffer
            start = 0
            while True:
                nl = buf.find(b"\n", start)
                if nl < 0:
                    break
                line = buf[start:nl]
                if line.startswith(b">"):
                    ident = line[1:].decode("utf-8", errors="replace")
                    # strip a windows CR the same way split("\n") would NOT —
                    # parse_fasta keeps it in the ident, so keep it here too
                    return ident, base + nl + 1
                start = nl + 1
            if not chunk:  # EOF
                if buf[start:].startswith(b">"):
                    ident = buf[start + 1:].decode("utf-8", errors="replace")
                    return ident, base + len(buf)
                return "", base + len(buf)
            buf = buf[start:]
            base += start


def plan_chunks(paths: list[str],
                chunk_bytes: int) -> list[tuple[int, str, str, int, int]]:
    """Driver-side split plan: [(chunk_id, path, ident, start, end)] — one
    entry per ``chunk_bytes`` byte range of each file's sequence region.
    Metadata only (two small reads per file); the data itself is read by
    the tasks."""
    out = []
    cid = 0
    for path in sorted(paths):
        ident, seq_start = header_scan(path)
        size = _file_size(path)
        if seq_start >= size:
            out.append((cid, path, ident, seq_start, size))
            cid += 1
            continue
        pos = seq_start
        while pos < size:
            end = min(pos + chunk_bytes, size)
            out.append((cid, path, ident, pos, end))
            cid += 1
            pos = end
    return out


def _chunk_seq_bytes(path: str, start: int, end: int,
                     k: int) -> tuple[np.ndarray, np.ndarray]:
    """(chunk's own sequence bytes, k-1 lookahead sequence bytes) — newline
    bytes stripped; the own range is one bounded read (≤ CHUNK_BYTES, sized
    by the planner), the lookahead keeps reading past ``end`` until k-1
    sequence bytes are gathered or EOF."""
    with _open_stream(path) as fh:
        fh.seek(start)
        own = np.frombuffer(fh.read(end - start), dtype=np.uint8)
        own = own[own != 0x0A]
        need = k - 1
        ahead = []
        got = 0
        while got < need:
            blk = fh.read(max(4096, 2 * need))
            if not blk:
                break
            arr = np.frombuffer(blk, dtype=np.uint8)
            arr = arr[arr != 0x0A]
            ahead.append(arr)
            got += len(arr)
        look = (np.concatenate(ahead)[:need] if ahead
                else np.empty(0, dtype=np.uint8))
    return own, look


#: 16 MiB sequence bytes per task — small enough that own+lookahead plus the
#: emitted windows fit executor memory, large enough that a 3 GB genome is
#: only ~200 tasks of split-plan metadata
DEFAULT_CHUNK_BYTES = 16 << 20


def _chunk_counts(spark: SparkSession,
                  chunks: list[tuple[int, str, str, int, int]]) -> dict[int, int]:
    """{chunk_id: own sequence-byte count} via one distributed pass (the
    counts are what global k-mer positions are computed from; newline
    density is unknowable from byte offsets alone).  Result is
    metadata-scale: one int per chunk."""
    bc = spark.sparkContext.broadcast(chunks)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        plan = bc.value
        for pdf in batches:
            cids = [int(i) for i in pdf["id"]]
            ns = []
            for i in cids:
                cid, path, _, start, end = plan[i]
                own, _ = _chunk_seq_bytes(path, start, end, k=1)
                ns.append(len(own))
            yield pd.DataFrame({"cid": [plan[i][0] for i in cids], "n": ns})

    ids = spark.range(0, len(chunks), numPartitions=max(1, len(chunks)))
    rows = ids.mapInPandas(fn, schema="cid long, n long").collect()
    return {r["cid"]: r["n"] for r in rows}


def _chunk_offsets(chunks: list[tuple[int, str, str, int, int]],
                   counts: dict[int, int]) -> dict[int, int]:
    """{chunk_id: global sequence position of the chunk's first byte} —
    prefix sum of own-byte counts within each file (chunk ids are assigned
    in (path, byte-range) order by plan_chunks)."""
    offsets = {}
    pos = 0
    prev_path = None
    for cid, path, _, _, _ in chunks:
        if path != prev_path:
            pos = 0
            prev_path = path
        offsets[cid] = pos
        pos += counts[cid]
    return offsets


def kmer_strings(seq: str, k: int) -> list[str]:
    """All stride-1 k-mers of one sequence (``nextKMere`` order)."""
    return [seq[i:i + k] for i in range(len(seq) - k + 1)]


def kmer_hashes(seq: str, k: int) -> np.ndarray:
    """Vectorized window hash of every stride-1 k-mer: Horner over the raw
    sequence bytes — equals ``hash_kmer_batch`` on the same windows."""
    b = np.frombuffer(seq.encode("utf-8"), dtype=np.uint8)
    return ngram_hashes(b, k)


def hash_kmer_batch(kmers: "np.ndarray | list[str]", k: int) -> np.ndarray:
    """Hash a batch of equal-length k-mer strings (the probe side) with the
    same byte-Horner kernel: one frombuffer over the concatenated bytes,
    one reshape, one vectorized fold — no per-string loop."""
    from cuckoofilter_spark.operators.kmers import NGRAM_MULT

    joined = "".join(kmers).encode("utf-8")
    flat = np.frombuffer(joined, dtype=np.uint8)
    if len(flat) != k * len(kmers):
        # non-ASCII / ragged-length fallback (never hit for ACGT alphabets):
        # strings shorter than k have no k-window — emit sentinel hash 0
        # instead of crashing on an empty window array
        out = np.zeros(len(kmers), dtype=np.uint64)
        for i, s in enumerate(kmers):
            h = kmer_hashes(s, k)
            if len(h):
                out[i] = h[0]
        return out
    win = flat.reshape(len(kmers), k).astype(np.uint64)
    acc = np.zeros(len(kmers), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc = acc * NGRAM_MULT + win[:, j]
    return acc


def fasta_kmers_df(spark: SparkSession, paths: list[str], k: int,
                   chunk_bytes: int | None = DEFAULT_CHUNK_BYTES) -> DataFrame:
    """DataFrame of (seq_id, pos, kmer) — every stride-1 k-mer of every
    file.  Default path: one task per ``chunk_bytes`` byte range with k-1
    lookahead (a monster genome fans out; a windows crossing a cut belongs
    to the chunk it STARTS in), preceded by one counting pass that fixes
    each chunk's global sequence offset (newline density is unknowable
    from byte offsets).  ``chunk_bytes=None``: the reference-exact
    whole-file parse, one task per file — the fallback for non-ASCII
    payloads where byte offsets aren't char offsets."""
    if chunk_bytes is None:
        files = sorted(paths)
        bc = spark.sparkContext.broadcast(files)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            flist = bc.value
            for pdf in batches:
                for fid in pdf["id"]:
                    ident, seq = parse_fasta(_read_text(flist[int(fid)]))
                    kmers = kmer_strings(seq, k)
                    if kmers:
                        yield pd.DataFrame({
                            "seq_id": ident,
                            "pos": np.arange(len(kmers), dtype=np.int64),
                            "kmer": kmers,
                        })

        ids = spark.range(0, len(files), numPartitions=max(1, len(files)))
        return ids.mapInPandas(fn, schema="seq_id string, pos long, kmer string")

    chunks = plan_chunks(sorted(paths), chunk_bytes)
    offsets = _chunk_offsets(chunks, _chunk_counts(spark, chunks))
    bc = spark.sparkContext.broadcast((chunks, offsets))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        plan, offs = bc.value
        for pdf in batches:
            for i in pdf["id"]:
                cid, path, ident, start, end = plan[int(i)]
                own, look = _chunk_seq_bytes(path, start, end, k)
                buf = np.concatenate([own, look]) if len(look) else own
                w = len(buf) - k + 1
                if w <= 0:
                    continue
                text = buf.tobytes().decode("utf-8", errors="replace")
                yield pd.DataFrame({
                    "seq_id": ident,
                    "pos": offs[cid] + np.arange(w, dtype=np.int64),
                    "kmer": [text[j:j + k] for j in range(w)],
                })

    ids = spark.range(0, len(chunks), numPartitions=max(1, len(chunks)))
    return ids.mapInPandas(fn, schema="seq_id string, pos long, kmer string")


def build_fasta_filter(spark: SparkSession, paths: list[str], k: int,
                       params: CuckooParams, dedup: bool = False,
                       chunk_bytes: int | None = DEFAULT_CHUNK_BYTES,
                       ) -> DynamicCuckooFilter:
    """Distributed k-mer filter build over FASTA files: each task streams
    its ``chunk_bytes`` byte range (plus k-1 lookahead, so every window is
    hashed exactly once, by the chunk it starts in), Horner-hashes the
    windows straight off the raw bytes — no string materialization at all
    on this path — and folds them into a partition filter; blobs
    tree-merge as usual.  No counting pass: the build needs hashes, not
    positions.  ``chunk_bytes=None`` = whole-file-per-task fallback.
    ``dedup=False`` = the reference's insert-a-copy-per-occurrence
    (``insertKmers``, ``Tests/cf_fasta_test.cpp:11-24``), which is what
    makes the delete-all phase restore an empty filter."""
    files = sorted(paths)
    if not files:
        raise ValueError("no FASTA files given")

    if chunk_bytes is None:
        units: list = files

        def seq_bytes_of(unit) -> np.ndarray:
            _, seq = parse_fasta(_read_text(unit))
            return np.frombuffer(seq.encode("utf-8"), dtype=np.uint8)
    else:
        units = plan_chunks(files, chunk_bytes)

        def seq_bytes_of(unit) -> np.ndarray:
            _, path, _, start, end = unit
            own, look = _chunk_seq_bytes(path, start, end, k)
            return np.concatenate([own, look]) if len(look) else own

    new_state = new_filter(params, dedup)

    def build_unit(unit, uid):
        hashes = ngram_hashes(seq_bytes_of(unit), k)
        filt = new_state(uid)
        filt.update(hashes.astype(np.int64))
        return filt, 1, len(hashes)

    filt, _, _ = map_units(spark, units, build_unit)
    return finish_filter(filt, params, dedup, compact=False)


def cf_contains_kmer_udf(spark: SparkSession, filt: DynamicCuckooFilter,
                         k: int):
    """Vectorized ``contains(kmer_string) -> boolean`` Arrow UDF bound to a
    broadcast of *filt* — probe side of the FASTA workload, through
    ``operators/membership``'s one probe helper."""
    import pyarrow.compute as pc

    from cuckoofilter_spark.core.serde import serialize_filter
    from cuckoofilter_spark.operators.membership import _probe_udf

    def answer(f, kmers):
        # wrong-length strings are never k-mers → never members; substitute
        # a k-length placeholder so one bad row doesn't knock the whole
        # batch off the concatenate-and-reshape fast path
        valid = pc.equal(pc.utf8_length(kmers), k).fill_null(False)
        vals = pc.if_else(valid, kmers, "\x00" * k).to_numpy(zero_copy_only=False)
        h = hash_kmer_batch(vals, k).astype(np.int64)
        return f.contains(h) & valid.to_numpy(zero_copy_only=False)

    return _probe_udf(spark, serialize_filter(filt), None, "boolean", answer)
