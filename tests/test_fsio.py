"""Pluggable-filesystem layer: every custom source/sink routes its IO
through ``fsio`` (reference parity: `file/FileSystemWrapper.java:16-49`).

The ``mock://`` scheme (``MappedFileSystem``) is a fake remote store mapped
onto a temp dir: any code path that bypasses the wrapper and calls plain
``open("mock://...")`` fails immediately, so a passing end-to-end read/write
on mock URIs proves routing completeness — including on executors, where
the FS instance arrives via the task closure."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from disq_original_spark.sources.fsio import (
    ArrowFileSystem,
    LocalFileSystem,
    MappedFileSystem,
    get_fs,
    register_filesystem,
    unregister_filesystem,
)

RES = "/root/reference/src/test/resources"


@pytest.fixture()
def mock_fs(tmp_path):
    fs = MappedFileSystem("mock", str(tmp_path))
    register_filesystem("mock", fs)
    yield fs
    unregister_filesystem("mock")


def _stage(tmp_root: str, *names: str) -> None:
    for name in names:
        shutil.copy(f"{RES}/{name}", Path(tmp_root) / name)


def test_get_fs_resolution(tmp_path):
    assert isinstance(get_fs("/plain/path"), LocalFileSystem)
    assert isinstance(get_fs("file:///plain/path"), LocalFileSystem)
    assert isinstance(get_fs("s3://bucket/key"), ArrowFileSystem)
    with pytest.raises(ValueError, match="no filesystem registered"):
        get_fs("bogus://x/y")


def test_mapped_fs_basics(mock_fs, tmp_path):
    mock_fs.write_bytes("mock://a/b.bin", b"hello")
    assert mock_fs.exists("mock://a/b.bin")
    assert mock_fs.size("mock://a/b.bin") == 5
    assert mock_fs.read_bytes("mock://a/b.bin") == b"hello"
    assert mock_fs.listdir("mock://a") == ["mock://a/b.bin"]
    mock_fs.rename("mock://a/b.bin", "mock://a/c.bin")
    assert not mock_fs.exists("mock://a/b.bin")
    # bypassing the wrapper on a mapped URI must fail — that's the proof
    with pytest.raises(OSError):
        open("mock://a/c.bin", "rb")


def test_merge_parts_uses_concat_fast_path(mock_fs):
    from disq_original_spark.sources.merger import merge_parts

    mock_fs.write_bytes("mock://t/part-00000", b"AAA")
    mock_fs.write_bytes("mock://t/part-00001", b"BBB")
    mock_fs.write_bytes("mock://t/.hidden", b"XXX")  # ignored (Hadoop convention)
    merge_parts("mock://t", "mock://out.bin", header=b"H:", terminator=b":T")
    assert mock_fs.read_bytes("mock://out.bin") == b"H:AAABBB:T"
    assert not mock_fs.exists("mock://t")  # temp removed


def test_merge_parts_orders_by_partition_id(tmp_path):
    """Past 100k partitions a string sort puts part-100000 before
    part-99999; parts must concatenate in partition-id order, whether
    named by the sinks or by Spark's text writer."""
    from disq_original_spark.sources.merger import list_parts, merge_parts

    t = tmp_path / "t"
    t.mkdir()
    for name, body in (
        ("part-100000", b"C"),
        ("part-99999", b"B"),
        ("part-00002-0f1e-c000.txt", b"A"),
        ("_SUCCESS", b"X"),
    ):
        (t / name).write_bytes(body)
    assert [Path(p).name for p in list_parts(str(t))] == [
        "part-00002-0f1e-c000.txt",
        "part-99999",
        "part-100000",
    ]
    merge_parts(str(t), str(tmp_path / "out.bin"))
    assert (tmp_path / "out.bin").read_bytes() == b"ABC"


def test_bam_roundtrip_on_mock_scheme(spark, mock_fs, tmp_path):
    from disq_original_spark.sources.bam import BamSink, BamSource

    _stage(tmp_path, "1.bam")
    src = BamSource()
    local = src.read(spark, f"{RES}/1.bam").count()
    via_mock = src.read(spark, "mock://1.bam")
    assert via_mock.count() == local

    header = src.read_header("mock://1.bam")
    BamSink().write(via_mock, header, "mock://out/result.bam")
    assert mock_fs.exists("mock://out/result.bam")
    assert src.read(spark, "mock://out/result.bam").count() == local


def test_vcf_bgzf_roundtrip_on_mock_scheme(spark, mock_fs, tmp_path):
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    _stage(tmp_path, "test.vcf.bgz")
    src = VcfSource()
    local = src.read(spark, f"{RES}/test.vcf.bgz")
    via_mock = src.read(spark, "mock://test.vcf.bgz", split_size=4 * 1024)
    assert via_mock.count() == local.count()

    header_text = src.read_header("mock://test.vcf.bgz")
    VcfSink().write(via_mock, header_text, "mock://out/result.vcf.bgz")
    assert src.read(spark, "mock://out/result.vcf.bgz").count() == local.count()


def test_bam_interval_pushdown_on_mock_scheme(spark, mock_fs, tmp_path):
    """Index files (.bai) resolve through the wrapper too."""
    from disq_original_spark.sources.bai import create_bai
    from disq_original_spark.sources.bam import BamSource

    _stage(tmp_path, "1.bam")
    create_bai("mock://1.bam")
    assert mock_fs.exists("mock://1.bam.bai")
    intervals = spark.createDataFrame(
        [("chr21", 5_000_000, 9_999_999)], "contig string, start long, end long"
    )
    src = BamSource()
    want = src.read(spark, f"{RES}/1.bam", intervals=intervals).count()
    got = src.read(spark, "mock://1.bam", intervals=intervals).count()
    assert got == want


def test_sharded_sink_reads_back_on_mock_scheme(spark, mock_fs, tmp_path):
    from disq_original_spark.sources.bam import BamSink, BamSource

    _stage(tmp_path, "1.bam")
    src = BamSource()
    df = src.read(spark, "mock://1.bam")
    n = df.count()
    header = src.read_header("mock://1.bam")
    BamSink().write_sharded(df.repartition(3), header, "mock://sharded")
    parts = mock_fs.listdir("mock://sharded")
    assert len(parts) >= 2 and all(p.endswith(".bam") for p in parts)
    assert src.read(spark, "mock://sharded").count() == n


def test_cram_read_on_mock_scheme(spark, mock_fs, tmp_path):
    from disq_original_spark.sources.cram import CramSource

    _stage(tmp_path, "valid.cram", "valid.cram.crai", "valid.fasta", "valid.fasta.fai")
    src = CramSource()
    local = src.read(spark, f"{RES}/valid.cram", reference_path=f"{RES}/valid.fasta")
    via_mock = src.read(
        spark, "mock://valid.cram", reference_path="mock://valid.fasta"
    )
    assert via_mock.count() == local.count()


def test_indexed_write_on_mock_scheme(spark, mock_fs, tmp_path):
    """Write-time .sbi/.bai creation (sidecar metadata + rebase) must run
    entirely through the pluggable filesystem — a plain open() on mock://
    would fail."""
    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.bam_codec import SbiIndex

    _stage(tmp_path, "1.bam")
    src = BamSource()
    df = src.read(spark, "mock://1.bam")
    n = df.count()
    header = src.read_header("mock://1.bam")
    BamSink().write(df, header, "mock://out/indexed.bam", write_sbi=True, write_bai=True)
    assert mock_fs.exists("mock://out/indexed.bam.sbi")
    assert mock_fs.exists("mock://out/indexed.bam.bai")
    assert SbiIndex.load("mock://out/indexed.bam.sbi").total_records == n
    assert src.read(spark, "mock://out/indexed.bam", use_sbi=True).count() == n


def test_vcf_indexed_write_on_mock_scheme(spark, mock_fs, tmp_path):
    """Write-time .tbi creation (sidecar metadata + rebase) must run
    entirely through the pluggable filesystem."""
    from disq_original_spark.sources.tabix import parse_tabix
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    _stage(tmp_path, "test.vcf.bgz")
    src = VcfSource()
    df = src.read(spark, "mock://test.vcf.bgz")
    n = df.count()
    header = src.read_header("mock://test.vcf.bgz")
    VcfSink().write(df, header, "mock://out/indexed.vcf.bgz", write_index=True)
    assert mock_fs.exists("mock://out/indexed.vcf.bgz.tbi")
    assert parse_tabix("mock://out/indexed.vcf.bgz.tbi").names
    assert src.read(spark, "mock://out/indexed.vcf.bgz").count() == n


def test_cram_sharded_on_mock_scheme(spark, mock_fs, tmp_path):
    """Sharded CRAM write + directory read-back entirely over the mock
    scheme: per-shard encode, .crai sidecars, listing, and per-file split
    planning must all route through the pluggable filesystem."""
    from disq_original_spark.sources.cram import CramSink, CramSource
    from disq_original_spark.sources.cram_codec import read_cram_meta_file

    _stage(tmp_path, "valid.cram", "valid.cram.crai", "valid.fasta", "valid.fasta.fai")
    src = CramSource()
    df = src.read(spark, "mock://valid.cram", reference_path="mock://valid.fasta")
    hdr = read_cram_meta_file("mock://valid.cram")[0].header_text
    CramSink().write_sharded(
        df.repartition(2), hdr, "mock://out.cram.sharded",
        reference_path="mock://valid.fasta", write_index=True,
    )
    shards = mock_fs.listdir("mock://out.cram.sharded")
    assert sum(s.endswith(".cram") for s in shards) == 2
    assert sum(s.endswith(".crai") for s in shards) == 2
    back = src.read(
        spark, "mock://out.cram.sharded", reference_path="mock://valid.fasta"
    )
    assert back.count() == df.count()


def test_plain_vcf_read_on_mock_scheme(spark, mock_fs, tmp_path):
    """Plain-text VCF reads (no intervals) must stay on the pluggable
    filesystem when the scheme is not JVM-visible — the native-text-scan
    fast path applies only to local paths."""
    from disq_original_spark.sources.vcf import VcfSource

    _stage(tmp_path, "test.vcf")
    local = VcfSource().read(spark, f"{RES}/test.vcf")
    via_mock = VcfSource().read(spark, "mock://test.vcf")
    assert via_mock.count() == local.count()


# ---------------------------------------------------------- prefetcher
def test_prefetching_reader_byte_identity():
    """Random read/seek fuzz: the prefetcher must be indistinguishable from
    the plain handle (SeekableByteChannelPrefetcher parity)."""
    import io
    import random

    from disq_original_spark.sources.fsio import PrefetchingReader

    data = random.Random(7).randbytes(1_500_000)
    pf = PrefetchingReader(io.BytesIO(data), buffer_bytes=64 * 1024)
    plain = io.BytesIO(data)
    rng = random.Random(1)
    for step in range(1200):
        op = rng.random()
        if op < 0.6:
            nb = rng.randint(0, 70000)
            assert pf.read(nb) == plain.read(nb), step
        elif op < 0.8:
            t = rng.randint(0, len(data) + 100)
            pf.seek(t)
            plain.seek(t)
        elif op < 0.9:
            pos = max(0, pf.tell() + rng.randint(-1000, 1000))
            pf.seek(pos)
            plain.seek(pos)
        else:
            e = rng.randint(-100, 0)
            pf.seek(e, 2)
            plain.seek(e, 2)
        assert pf.tell() == plain.tell(), step
    pf.seek(0), plain.seek(0)
    assert pf.read() == plain.read()
    pf.close()


def test_prefetching_reader_batches_fetches():
    """A sequential scan must hit the underlying stream ~size/buffer times,
    not once per read() call — that's the entire point of the readahead."""
    import io

    from disq_original_spark.sources.fsio import PrefetchingReader

    data = bytes(range(256)) * 8192  # 2 MiB
    pf = PrefetchingReader(io.BytesIO(data), buffer_bytes=256 * 1024)
    out = bytearray()
    while True:
        b = pf.read(4096)  # 512 tiny reads
        if not b:
            break
        out += b
    assert bytes(out) == data
    assert pf.underlying_fetches <= len(data) // (256 * 1024) + 2
    pf.close()


def test_open_prefetched_routing(tmp_path):
    """Local paths get the bare handle; mapped (remote-shaped) schemes get
    the prefetcher."""
    from disq_original_spark.sources.fsio import (
        MappedFileSystem,
        PrefetchingReader,
        get_fs,
        open_prefetched,
        register_filesystem,
    )

    p = tmp_path / "x.bin"
    p.write_bytes(b"abc123" * 1000)
    local = open_prefetched(get_fs(str(p)), str(p))
    assert not isinstance(local, PrefetchingReader)
    local.close()
    register_filesystem("pfmock", MappedFileSystem("pfmock", str(tmp_path)))
    fh = open_prefetched(get_fs("pfmock://x.bin"), "pfmock://x.bin")
    assert isinstance(fh, PrefetchingReader)
    assert fh.read(6) == b"abc123"
    fh.close()
