"""`spark.read.format("fasta")` — the reference's FastaIterator as a
first-class Spark source.

The reference exposes the k-mer stream through a pull iterator
(``FASTA/fasta_iterator.cpp:9-29``: ``hasNext``/``next`` over
``FastaReader::nextKMere``).  The Spark-native equivalent of a pull
iterator is a Data Source: this registers a PySpark 4 Python Data Source
whose partitions are the byte-range chunks of ``sources/fasta.plan_chunks``
(k-1 lookahead, every window emitted exactly once by the chunk it starts
in), so one monster genome fans out across tasks and Catalyst sees an
ordinary relation — `.filter`/`.groupBy`/joins compose, and column pruning
works like any other source.

    spark.dataSource.register(FastaDataSource)
    df = (spark.read.format("fasta")
          .option("path", "/data/genome.fna").option("k", 10).load())
    # seq_id string, kmer string

Rows stream out as Arrow batches, sliced per chunk (``batch_windows``).
This is the one k-mer relation: its per-occurrence multiset equals the
reference iterator's stream over ``parse_fasta`` of the file's raw bytes
(pytest-gated, LF and CRLF; lines split on LF only, so a CR stays in the
k-mers as ``std::getline`` keeps it).  Positions are not part of the
iterator contract, the reference's isn't positional either.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _WarmupDataSource(DataSource):
    """1-row dummy source: its only job is to force-start the lazy
    Python-data-source runtime (the ``create_data_source`` /
    ``plan_data_source_read`` planner daemons and the DS task eval path —
    each a fresh interpreter + pyspark import, ~4-5 s total measured on
    this host, paid once per session by whichever DS query runs first)."""

    @classmethod
    def name(cls) -> str:
        return "cuckoo_ds_warmup"

    def schema(self) -> str:
        return "v int"

    def reader(self, schema) -> "_WarmupReader":
        return _WarmupReader()


class _WarmupReader(DataSourceReader):
    def read(self, partition):
        yield (1,)


def prewarm_python_datasource(spark) -> None:
    """Start the session-wide Python-data-source runtime on a 1-row dummy
    read so the first REAL Data Source query measures its own work, not
    runtime bring-up.  At corpus scale the bring-up amortizes to zero; for
    per-query timing it's the same class of one-off as JVM/python-worker
    warm-up, which bench.py already performs in its documented session
    warm-up block (this helper is called from there).  Idempotent per
    session."""
    key = "cuckoofilter.ds_runtime_warmed"
    if spark.conf.get(key, None) == "1":
        return
    spark.dataSource.register(_WarmupDataSource)
    n = spark.read.format("cuckoo_ds_warmup").load().count()
    if n != 1:
        raise RuntimeError(f"warm-up data source read {n} rows, expected 1")
    spark.conf.set(key, "1")


class FastaChunk(InputPartition):
    def __init__(self, cid: int, path: str, ident: str, start: int, end: int):
        self.cid, self.path, self.ident = cid, path, ident
        self.start, self.end = start, end


class FastaDataSource(DataSource):
    """Options: ``path`` (one file or comma-separated list), ``k`` (window
    length, required), ``chunk_bytes`` (split size, default 16 MiB)."""

    @classmethod
    def name(cls) -> str:
        return "fasta"

    def schema(self) -> str:
        return "seq_id string, kmer string"

    def reader(self, schema) -> "FastaChunkReader":
        return FastaChunkReader(self.options)


class FastaChunkReader(DataSourceReader):
    def __init__(self, options):
        from cuckoofilter_spark.sources.fasta import DEFAULT_CHUNK_BYTES

        path = options.get("path")
        if not path:
            raise ValueError("fasta source requires option 'path'")
        if "k" not in options:
            raise ValueError("fasta source requires option 'k'")
        self.paths = [p for p in str(path).split(",") if p]
        self.k = int(options["k"])
        self.chunk_bytes = int(options.get("chunk_bytes", DEFAULT_CHUNK_BYTES))
        self.batch_windows = int(options.get("batch_windows",
                                             self.BATCH_WINDOWS))
        if self.k < 1:
            raise ValueError(f"k must be >= 1, got {self.k}")

    def partitions(self):
        from cuckoofilter_spark.sources.fasta import plan_chunks

        return [FastaChunk(*c)
                for c in plan_chunks(sorted(self.paths), self.chunk_bytes)]

    #: windows per emitted Arrow batch — a 16 MiB chunk holds ~16M windows,
    #: and one batch of 16M k-mer strings would be hundreds of MB of Arrow
    #: memory per task; slice the emission instead
    BATCH_WINDOWS = 65536

    def read(self, partition: FastaChunk):
        import pyarrow as pa

        from cuckoofilter_spark.sources.fasta import _chunk_seq_bytes

        buf = _chunk_seq_bytes(partition.path, partition.start,
                               partition.end, self.k)
        w = len(buf) - self.k + 1
        if w <= 0:
            return
        text = buf.tobytes().decode("utf-8", errors="replace")
        k = self.k
        for lo in range(0, w, self.batch_windows):
            hi = min(lo + self.batch_windows, w)
            yield pa.record_batch({
                "seq_id": pa.array([partition.ident] * (hi - lo),
                                   pa.string()),
                "kmer": pa.array([text[j:j + k] for j in range(lo, hi)],
                                 pa.string()),
            })
