"""FASTA k-mer workload parity — the reference's own end-to-end test
(``Tests/cf_fasta_test.cpp:25-71``: insert → FPR on random k-mers →
contains-all-inserted → delete-all) run through the distributed build on a
committed fixture of the same shape as the reference's data
(``Data/ecoli_small.fna`` and its ``Data/random/*.txt`` probe list):
``tests/data/synth_small.fna`` and ``synth_small_kmers_10.txt``, made by
``tests/data/make_fixtures.py``."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sources.fasta import (
    build_fasta_filter,
    cf_contains_kmer_udf,
    hash_kmer_batch,
    kmer_hashes,
    kmer_strings,
    parse_fasta,
)
from cuckoofilter_spark.sources.fasta_datasource import FastaDataSource

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FNA = os.path.join(DATA, "synth_small.fna")
RANDOM_10 = os.path.join(DATA, "synth_small_kmers_10.txt")
K = 10


def _reference_stream(path):
    """(ident, sequence) of the reference reader, from the RAW bytes: text
    mode would translate CRLF, and ``std::getline`` keeps the CR."""
    with open(path, "rb") as fh:
        return parse_fasta(fh.read().decode())


def test_parse_fasta_reference_semantics():
    ident, seq = _reference_stream(FNA)
    assert ident.startswith("SYNTH0001.1")
    # all sequence lines concatenated, no newlines, ACGT alphabet
    assert set(seq) <= set("ACGTN") and len(seq) > 900


def test_kmer_window_matches_reference_iterator():
    """Our stride-1 windows = FastaReader::nextKMere order and count."""
    _, seq = _reference_stream(FNA)
    kmers = kmer_strings(seq, K)
    assert len(kmers) == len(seq) - K + 1
    assert kmers[0] == seq[:K] and kmers[-1] == seq[-K:]


def test_hash_kernels_agree():
    _, seq = _reference_stream(FNA)
    kmers = kmer_strings(seq, K)
    assert np.array_equal(kmer_hashes(seq, K), hash_kmer_batch(kmers, K))


def _kmers_df(spark, path, **opts):
    """The one k-mer relation: ``spark.read.format("fasta")``."""
    spark.dataSource.register(FastaDataSource)
    return spark.read.format("fasta").options(path=path, k=K, **opts).load()


def test_fasta_datasource_enumerates_all_windows(spark):
    """Every stride-1 window of the fixture, each once per occurrence."""
    from collections import Counter

    _, seq = _reference_stream(FNA)
    got = Counter(r["kmer"] for r in _kmers_df(spark, FNA).collect())
    assert sum(got.values()) == len(seq) - K + 1
    assert got == Counter(kmer_strings(seq, K))


@pytest.fixture(scope="module")
def fasta_filter(spark):
    _, seq = _reference_stream(FNA)
    n = len(seq) - K + 1
    params = CuckooParams(max_table_size=2 * n, bits_per_fp=16)
    return build_fasta_filter(spark, [FNA], K, params, dedup=False), params


def test_insert_then_contains_all(spark, fasta_filter):
    """Phase 2 of cf_fasta_test: every inserted k-mer answers member —
    probed through Spark with the k-mer UDF."""
    filt, _ = fasta_filter
    df = _kmers_df(spark, FNA)
    contains = cf_contains_kmer_udf(spark, filt, K)
    assert df.filter(~contains(F.col("kmer"))).count() == 0


def test_fpr_on_reference_random_kmers(spark, fasta_filter):
    """Phase 1 of cf_fasta_test (getFPRate): probe a held-out random
    k-mers file; FP rate within the configured bound."""
    filt, params = fasta_filter
    with open(RANDOM_10) as fh:
        probes = [l.strip() for l in fh if l.strip()]
    assert all(len(p) == K for p in probes)
    h = hash_kmer_batch(np.array(probes), K).astype(np.int64)
    member = filt.contains(h)
    # genuine members are possible (random k-mers may occur in the genome);
    # subtract them before holding the rest to the FP bound
    _, seq = _reference_stream(FNA)
    truth = np.array([p in seq for p in probes])
    fp = member & ~truth
    assert fp.sum() <= max(3, int(3 * params.fpr_bound * len(probes)))


def test_delete_all_restores_empty(spark, fasta_filter):
    """Phase 3 (deleteAll): deleting every inserted copy empties the
    multiset filter."""
    filt, _ = fasta_filter
    import copy

    f = copy.deepcopy(filt)
    _, seq = _reference_stream(FNA)
    h = kmer_hashes(seq, K).astype(np.int64)
    ok = f.delete(h)
    assert ok.all()
    assert f.element_count == 0


def test_kmer_probe_handles_null_and_short_strings(spark, fasta_filter):
    """NULL / wrong-length probes answer False (a non-k-length string is
    not a k-mer) instead of crashing the batch (ADVICE r2)."""
    from pyspark.sql.types import StringType, StructField, StructType

    filt, _ = fasta_filter
    contains = cf_contains_kmer_udf(spark, filt, K)
    _, seq = _reference_stream(FNA)
    rows = [(seq[:K],), (None,), ("ACG",), ("",), (seq[:K + 3],), (seq[5:5 + K],)]
    df = spark.createDataFrame(rows, StructType([StructField("kmer", StringType())]))
    got = [r["m"] for r in
           df.select(contains(F.col("kmer")).alias("m")).collect()]
    assert got == [True, False, False, False, False, True]


def test_hash_kmer_batch_short_strings_no_crash():
    out = hash_kmer_batch(["ACG", "", "ACGTACGTAC"], 10)
    assert out.shape == (3,)
    assert out[2] == kmer_hashes("ACGTACGTAC", 10)[0]


def _synth_fna(path, n_bytes=30000, seed=7, multi_record=False,
               ident="synth test genome", newline="\n"):
    """Deterministic ACGT file with RAGGED line lengths (so newline density
    varies across byte ranges — the thing that makes chunk cuts
    non-trivial); optionally a mid-file '>' line, which the reference
    reader treats as sequence bytes, and CRLF line ends."""
    rng = np.random.default_rng(seed)
    lines = [">" + ident]
    written = 0
    while written < n_bytes:
        n = int(rng.integers(1, 120))
        lines.append("".join("ACGT"[i] for i in rng.integers(0, 4, n)))
        written += n
        if multi_record and len(lines) == 40:
            lines.append(">rec2 mid-file header-as-sequence")
    path.write_bytes((newline.join(lines) + newline).encode())
    return str(path)


def test_chunked_build_identical_to_wholefile(spark, tmp_path):
    """Chunked filter build over a file cut into many byte ranges = the
    whole-file reference parse's k-mer hashes: element_count is the
    per-occurrence window count (boundary windows inserted exactly once),
    every k-mer is a member, and delete-all restores empty."""
    from cuckoofilter_spark.sources.fasta import plan_chunks

    fna = _synth_fna(tmp_path / "synth.fna")
    assert len(plan_chunks([fna], 1024)) > 20
    _, seq = _reference_stream(fna)
    n = len(seq) - K + 1
    params = CuckooParams(max_table_size=2 * n, bits_per_fp=16)
    chunked = build_fasta_filter(spark, [fna], K, params, dedup=False,
                                 chunk_bytes=1024)
    assert chunked.element_count == n
    h = kmer_hashes(seq, K).astype(np.int64)
    assert chunked.contains(h).all()
    assert chunked.delete(h).all() and chunked.element_count == 0


def test_header_scan_junk_and_headerless(tmp_path):
    """Reference semantics at the chunk planner: pre-'>' lines discarded;
    a file with no '>' line at all has an empty sequence region."""
    from cuckoofilter_spark.sources.fasta import header_scan, plan_chunks

    junk = tmp_path / "junk.fna"
    junk.write_text("; comment\nnoise\n>id here\nACGT\n")
    ident, off = header_scan(str(junk))
    assert ident == "id here"
    assert junk.read_text()[off:] == "ACGT\n"

    hdrless = tmp_path / "plain.txt"
    hdrless.write_text("ACGT\nACGT\n")
    ident, off = header_scan(str(hdrless))
    assert ident == "" and off == len(hdrless.read_text())
    # planner still emits one (empty) chunk so the build sees the file
    assert len(plan_chunks([str(hdrless)], 1024)) == 1


@pytest.mark.parametrize("newline", ["\n", "\r\n"], ids=["lf", "crlf"])
def test_multi_record_fasta_matches_oracle_semantics(tmp_path, newline):
    """parse_fasta's verbatim concatenation (reference fasta_reader.cpp
    semantics: later '>' lines are sequence bytes) must equal the DuckDB
    oracle's slicing on a MULTI-record file (ADVICE r2); both split lines
    on LF only, so a CRLF file's CRs stay in the sequence."""
    import duckdb

    fna = tmp_path / "multi.fna"
    lines = [">rec1", "ACGTACGTACGT", "TTAACCGG", ">rec2", "GGGCCCAAATTT"]
    fna.write_bytes((newline.join(lines) + newline).encode())
    _, seq = _reference_stream(fna)
    assert ("\r" in seq) == (newline == "\r\n")
    impl = sorted(set(kmer_strings(seq, K)))
    sql = f"""
    WITH f AS (SELECT string_split(content, chr(10)) AS ls
               FROM read_text('{fna}')),
    h AS (SELECT ls, list_position(list_transform(ls,
                 x -> substr(x, 1, 1) = '>'), TRUE) AS hi FROM f),
    s AS (SELECT list_aggregate(ls[hi+1:], 'string_agg', '') AS seq FROM h)
    SELECT DISTINCT unnest(list_transform(range(1, length(seq) - {K} + 2),
                                          i -> substr(seq, i, {K}))) AS kmer
    FROM s ORDER BY kmer
    """
    oracle = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert impl == oracle


def _ds_stream(spark, fna, **opts):
    """Per-occurrence (seq_id, kmer) multiset of the fasta Data Source."""
    from collections import Counter

    return Counter((r["seq_id"], r["kmer"])
                   for r in _kmers_df(spark, fna, **opts).collect())


def _iterator_stream(fna):
    """The reference FastaIterator's (seq_id, kmer) multiset."""
    from collections import Counter

    ident, seq = _reference_stream(fna)
    return Counter((ident, x) for x in kmer_strings(seq, K))


@pytest.mark.parametrize("multi_record", [False, True])
def test_chunked_kmers_identical_to_wholefile(spark, tmp_path, multi_record):
    """The byte-range scan (k-1 lookahead) over a file that fans into many
    chunks emits the same (seq_id, kmer) multiset as a one-chunk read of
    the whole file, and both equal the reference-exact whole-file parse
    (a mid-file '>' line is sequence bytes)."""
    from cuckoofilter_spark.sources.fasta import plan_chunks

    fna = _synth_fna(tmp_path / "synth.fna", multi_record=multi_record)
    assert len(plan_chunks([fna], 1024)) > 20
    size = os.path.getsize(fna)
    assert len(plan_chunks([fna], size)) == 1
    whole = _ds_stream(spark, fna, chunk_bytes=size)
    chunked = _ds_stream(spark, fna, chunk_bytes=1024)
    assert chunked == whole == _iterator_stream(fna)
    assert sum(whole.values()) > 25000


def test_fasta_datasource_matches_iterator_stream(spark, tmp_path):
    """spark.read.format('fasta') = the reference FastaIterator's k-mer
    stream (per-occurrence multiset, order-insensitive), partition-
    parallel over byte-range chunks (SURVEY §2 #30)."""
    fna = _synth_fna(tmp_path / "ds.fna", n_bytes=8000)
    assert _ds_stream(spark, fna, chunk_bytes=1024) == _iterator_stream(fna)
    assert _reference_stream(fna)[0] == "synth test genome"
    # it's a real relation: filters/aggregates compose
    df = _kmers_df(spark, fna, chunk_bytes=1024)
    top = (df.groupBy("kmer").count().orderBy("count", "kmer")
           .limit(1).collect())
    assert top[0]["count"] >= 1


@pytest.mark.parametrize("multi_record", [False, True],
                         ids=["one_record", "multi_record"])
def test_fasta_datasource_crlf_keeps_cr(spark, tmp_path, multi_record):
    """A CRLF file read in more than 20 chunks: the CR stays in k-mers and
    in the ident, as the reference's std::getline keeps it."""
    from cuckoofilter_spark.sources.fasta import plan_chunks

    fna = _synth_fna(tmp_path / "crlf.fna", multi_record=multi_record,
                     newline="\r\n")
    assert len(plan_chunks([fna], 1024)) > 20
    want = _iterator_stream(fna)
    assert _ds_stream(spark, fna, chunk_bytes=1024) == want
    assert {ident for ident, _ in want} == {"synth test genome\r"}
    assert any("\r" in x for _, x in want) and sum(want.values()) > 25000


def test_fasta_datasource_multi_file_and_validation(spark, tmp_path):
    a = _synth_fna(tmp_path / "a.fna", n_bytes=600, seed=1, ident="rec a")
    b = _synth_fna(tmp_path / "b.fna", n_bytes=600, seed=2, ident="rec b")
    df = _kmers_df(spark, f"{a},{b}")
    assert df.select("seq_id").distinct().count() == 2
    n = df.count()
    tot = sum(len(kmer_strings(_reference_stream(p)[1], K))
              for p in (a, b))
    assert n == tot
    with pytest.raises(Exception, match="requires option 'k'"):
        spark.read.format("fasta").option("path", a).load().count()
    # a split size < 1 byte never advances the planner: refused up front
    with pytest.raises(Exception, match="chunk_bytes must be >= 1"):
        _kmers_df(spark, a, chunk_bytes=0).count()
    params = CuckooParams(max_table_size=4096, bits_per_fp=16)
    with pytest.raises(ValueError, match="chunk_bytes must be >= 1"):
        build_fasta_filter(spark, [a], K, params, chunk_bytes=0)


def test_fasta_datasource_batch_slicing_preserves_stream(spark, tmp_path):
    """Sliced Arrow emission (batch_windows option, default 64k) changes
    batch boundaries only — the k-mer multiset is identical to the
    one-batch read."""
    from collections import Counter

    fna = _synth_fna(tmp_path / "slice.fna", n_bytes=4000)

    def stream(**opts):
        return Counter(x["kmer"] for x in _kmers_df(spark, fna, **opts).collect())

    assert stream(batch_windows=97) == stream() and sum(stream().values()) > 3000


def test_prewarm_python_datasource_is_idempotent(spark, monkeypatch):
    """First call pays the session-wide DS runtime bring-up once; the
    second is a config lookup only (bench.py relies on this in its warm
    block so fasta_kmers measures its own work, not runtime startup)."""
    from pyspark.sql.readwriter import DataFrameReader

    from cuckoofilter_spark.sources.fasta_datasource import (
        prewarm_python_datasource,
    )

    prewarm_python_datasource(spark)
    assert spark.conf.get("cuckoofilter.ds_runtime_warmed") == "1"
    formats = []
    real_format = DataFrameReader.format
    monkeypatch.setattr(DataFrameReader, "format",
                        lambda self, source: formats.append(source)
                        or real_format(self, source))
    prewarm_python_datasource(spark)
    assert formats == []  # no second dummy read
