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

One reader: the unit of parallelism is a fixed-size BYTE RANGE of a file
(``chunk_bytes``, default 16 MiB), so one monster genome fans out across
tasks instead of serializing into one task's memory.  ``plan_chunks`` does
a tiny header scan to find where sequence bytes start and cuts the rest
into ranges; ``_chunk_seq_bytes`` reads one range, strips LF bytes and
reads ahead exactly k-1 sequence bytes, so a window crossing a cut is
emitted by the chunk it STARTS in.  That pair is the only way bytes leave a
FASTA file: the filter build hashes the buffers, the ``fasta`` Data Source
(``sources/fasta_datasource.py``) decodes them into k-mer rows.  K-mers are
byte windows and lines split on LF only, so a CR stays in the sequence (as
``std::getline`` keeps it on Linux, and as the DuckDB oracle keeps it);
``parse_fasta``/``kmer_strings``/``kmer_hashes`` are the in-memory
reference the tests compare the chunked stream against.  K-mer hashing is
the vectorized byte-Horner kernel shared with the token n-gram path
(``operators/kmers.py``): the window hash is computed over the raw
sequence bytes with NumPy ``sliding_window_view`` — no per-window string
materialization, no per-row Python — standing in for the reference's
CityHash64-over-string (``Utils/hash_function.cpp:64-68``; the FPR bound is
hash-agnostic, SURVEY §2.4 #25).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.operators.build import finish_filter, map_units, new_filter
from cuckoofilter_spark.operators.kmers import horner_hashes, ngram_hashes
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
                    # a CRLF header keeps its CR, as parse_fasta's LF split does
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
    if chunk_bytes < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
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


def _seq_only(blk: bytes) -> np.ndarray:
    arr = np.frombuffer(blk, dtype=np.uint8)
    return arr[arr != 0x0A]


def _chunk_seq_bytes(path: str, start: int, end: int, k: int) -> np.ndarray:
    """A chunk's window buffer: its own sequence bytes (LF bytes stripped)
    plus up to k-1 lookahead sequence bytes past ``end`` (fewer only at
    EOF), so it holds exactly the windows that START in the chunk.  The own
    range is one bounded read (≤ ``chunk_bytes``, sized by the planner)."""
    with _open_stream(path) as fh:
        fh.seek(start)
        parts = [_seq_only(fh.read(end - start))]
        need = k - 1
        while need > 0:
            blk = fh.read(max(4096, 2 * (k - 1)))
            if not blk:
                break
            parts.append(_seq_only(blk)[:need])
            need -= len(parts[-1])
    return np.concatenate(parts) if len(parts) > 1 else parts[0]


#: 16 MiB sequence bytes per task — small enough that own+lookahead plus the
#: emitted windows fit executor memory, large enough that a 3 GB genome is
#: only ~200 tasks of split-plan metadata
DEFAULT_CHUNK_BYTES = 16 << 20


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
    return horner_hashes(flat.reshape(len(kmers), k).astype(np.uint64))


def build_fasta_filter(spark: SparkSession, paths: list[str], k: int,
                       params: CuckooParams, dedup: bool = False,
                       chunk_bytes: int = DEFAULT_CHUNK_BYTES,
                       ) -> DynamicCuckooFilter:
    """Distributed k-mer filter build over FASTA files: one unit per
    ``plan_chunks`` byte range, whose window buffer (``_chunk_seq_bytes``:
    own bytes plus k-1 lookahead, so every window is hashed exactly once,
    by the chunk it starts in) is Horner-hashed straight off the raw bytes
    — no string materialization — and folded into a filter through
    ``map_units``; blobs tree-merge as usual.  ``dedup=False`` = the
    reference's insert-a-copy-per-occurrence (``insertKmers``,
    ``Tests/cf_fasta_test.cpp:11-24``), which is what makes the delete-all
    phase restore an empty filter."""
    files = sorted(paths)
    if not files:
        raise ValueError("no FASTA files given")
    new_state = new_filter(params, dedup)

    def build_unit(unit, uid):
        _, path, _, start, end = unit
        hashes = ngram_hashes(_chunk_seq_bytes(path, start, end, k), k)
        filt = new_state(uid)
        filt.update(hashes.astype(np.int64))
        return filt, 1, len(hashes)

    filt, _, _ = map_units(spark, plan_chunks(files, chunk_bytes),
                          build_unit)
    return finish_filter(filt, params, dedup, compact=False)


def cf_contains_kmer_udf(spark: SparkSession, filt: DynamicCuckooFilter,
                         k: int):
    """Vectorized ``contains(kmer_string) -> boolean`` Arrow UDF bound to a
    broadcast of *filt* — probe side of the FASTA workload, through
    ``operators/membership``'s one probe helper."""
    import pyarrow.compute as pc

    from cuckoofilter_spark.operators.membership import _probe_udf

    def answer(f, kmers):
        # wrong-length strings are never k-mers → never members; substitute
        # a k-length placeholder so one bad row doesn't knock the whole
        # batch off the concatenate-and-reshape fast path
        valid = pc.equal(pc.utf8_length(kmers), k).fill_null(False)
        vals = pc.if_else(valid, kmers, "\x00" * k).to_numpy(zero_copy_only=False)
        h = hash_kmer_batch(vals, k).astype(np.int64)
        return f.contains(h) & valid.to_numpy(zero_copy_only=False)

    return _probe_udf(spark, filt, "boolean", answer)
