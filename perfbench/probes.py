"""Per-layer probes for the traced run.  Each probe calls one layer's
public functions directly on this seed's inputs and times them; unless
noted, a probe runs on one core, in this process."""

from __future__ import annotations

import os
import shutil
import time

from . import gen
from .measure import median
from .workloads import lookup_regions

DEFAULT_SPLIT = 128 * 1024 * 1024  # BamSource / VcfSource default split size


def _rate(work: float, seconds: float) -> float:
    return work / seconds if seconds > 0 else float("nan")


def bgzf_and_bam_codec(inputs: gen.Inputs) -> dict[str, float]:
    """Inflate every BGZF block of the BAM, decode its records, re-encode
    them and deflate the payloads again."""
    from disq_original_spark.sources import bgzf
    from disq_original_spark.sources.bam_codec import encode_record, parse_record
    from disq_original_spark.sources.headers import read_bam_header

    with open(inputs.bam, "rb") as fh:
        blocks = list(bgzf.enumerate_blocks(fh))
        t0 = time.perf_counter()
        payloads = [bgzf.decompress_block(fh, b) for b in blocks]
        t_inflate = time.perf_counter() - t0
    t0 = time.perf_counter()
    for p in payloads:
        bgzf.compress_block(p)
    t_deflate = time.perf_counter() - t0
    mb = sum(map(len, payloads)) / 1e6

    _h, refs, first = read_bam_header(inputs.bam)
    names = [r[0] for r in refs]
    off = first & 0xFFFF
    for b, p in zip(blocks, payloads):
        if b.pos < first >> 16:
            off += len(p)
    data = b"".join(payloads)
    rows = []
    t0 = time.perf_counter()
    while (rec := parse_record(data, off, names)) is not None:
        row, off = rec
        rows.append(row)
    t_decode = time.perf_counter() - t0
    ref_index = {n: i for i, n in enumerate(names)}
    t0 = time.perf_counter()
    for row in rows:
        encode_record(row, ref_index)
    t_encode = time.perf_counter() - t0
    return {
        "bgzf.inflate_mb_per_s": _rate(mb, t_inflate),
        "bgzf.deflate_mb_per_s": _rate(mb, t_deflate),
        "bam_codec.decode_reads_per_s": _rate(len(rows), t_decode),
        "bam_codec.encode_reads_per_s": _rate(len(rows), t_encode),
    }


def cram_codecs(inputs: gen.Inputs, budget_s: float = 1.0) -> dict[str, float]:
    """Decode whole containers (rANS, reference diffs) until ``budget_s`` is
    spent, then encode the decoded rows back into containers."""
    from disq_original_spark.sources.cram_codec import (
        IndexedFasta,
        decode_container,
        read_cram_meta,
    )
    from disq_original_spark.sources.cram_writer import encode_container

    with open(inputs.cram, "rb") as fh:
        data = fh.read()
    meta, pos = read_cram_meta(data)
    fasta = IndexedFasta(inputs.fasta)
    batches, n, spent = [], 0, 0.0
    while pos < len(data) and spent < budget_s:
        t0 = time.perf_counter()
        rows, pos = decode_container(data, pos, meta, fasta.get)
        spent += time.perf_counter() - t0
        if rows:
            batches.append(rows)
            n += len(rows)
    t0 = time.perf_counter()
    for rows in batches:
        encode_container(rows, meta.ref_names, meta.rg_ids, fasta, 3, 0)
    t_encode = time.perf_counter() - t0
    return {
        "cram_codec.decode_reads_per_s": _rate(n, spent),
        "cram_writer.encode_reads_per_s": _rate(n, t_encode),
    }


def vcf_layers(spark, inputs: gen.Inputs) -> dict[str, float]:
    """Split the BGZF VCF into lines (one core), then parse a cached frame
    of those lines into the variants schema (all cores)."""
    from disq_original_spark.sources.bgzf import iter_lines_in_range
    from disq_original_spark.sources.headers import vcf_sample_names
    from disq_original_spark.sources.vcf import VcfSource, parse_vcf_lines

    t0 = time.perf_counter()
    with open(inputs.vcf, "rb") as fh:
        lines = [x.decode() for x in iter_lines_in_range(fh, 0, os.path.getsize(inputs.vcf))]
    t_lines = time.perf_counter() - t0
    body = [(x.rstrip("\n"),) for x in lines if not x.startswith("#")]
    frame = spark.createDataFrame(body, "value string").repartition(
        spark.sparkContext.defaultParallelism
    ).cache()
    frame.count()
    samples = vcf_sample_names(VcfSource().read_header(inputs.vcf))
    t0 = time.perf_counter()
    got = gen.frame_checksum(parse_vcf_lines(frame, samples), "vcf")
    t_parse = time.perf_counter() - t0
    frame.unpersist()
    if got != inputs.expected("vcf"):
        raise RuntimeError(f"parse_vcf_lines checksum {got}")
    return {
        "vcf.lines_per_s": _rate(len(lines), t_lines),
        "vcf.parse_records_per_s": _rate(len(body), t_parse),
    }


def arrow_xfer(spark, inputs: gen.Inputs, split: int) -> dict[str, float]:
    """Source side: ``rows_to_dataframe`` over a pre-built reads row (no
    decode).  Sink side: ``foreach_partition_arrow`` with a no-op writer
    over a cached reads frame.  Both use all cores."""
    from disq_original_spark.sources.arrow_xfer import foreach_partition_arrow, rows_to_dataframe
    from disq_original_spark.sources.bam import READS_SCHEMA
    from disq_original_spark.sources.sam import READS_COLUMNS
    from disq_original_spark.storage import ReadsStorage

    reads = ReadsStorage(spark, split_size=split).read(inputs.bam).cache()
    n = reads.count()
    row = reads.limit(1).collect()[0].asDict()
    tasks = max(1, reads.rdd.getNumPartitions())
    per = -(-n // tasks)
    t0 = time.perf_counter()
    got = rows_to_dataframe(
        spark, [per] * tasks, lambda k, _r=row: (_r for _ in range(k)), READS_COLUMNS, READS_SCHEMA
    ).count()
    t_source = time.perf_counter() - t0
    t0 = time.perf_counter()
    foreach_partition_arrow(reads, lambda _pid, rows: sum(1 for _ in rows))
    t_sink = time.perf_counter() - t0
    reads.unpersist()
    return {
        "arrow_xfer.source_rows_per_s": _rate(got, t_source),
        "arrow_xfer.sink_rows_per_s": _rate(n, t_sink),
    }


def indexes(ctx) -> dict[str, float]:
    """Index queries for the region_lookup pass's regions: ``parse_bai`` +
    ``voffset_ranges_for_intervals`` and ``parse_tabix`` +
    ``file_ranges_for_intervals`` (+ ``prune_splits`` at the default split
    size), and the share of decoded rows a lookup returns."""
    from disq_original_spark.sources.bai import parse_bai, voffset_ranges_for_intervals
    from disq_original_spark.sources.bam import read_bam_header, records_for_split
    from disq_original_spark.sources.bgzf import iter_lines_in_range
    from disq_original_spark.sources.tabix import (
        file_ranges_for_intervals,
        parse_tabix,
        prune_splits,
    )

    inp, sz = ctx.inputs, ctx.sizes
    lay = gen.layout(ctx.seed, sz)
    regs = lookup_regions(ctx)
    bam_len, vcf_len = os.path.getsize(inp.bam), os.path.getsize(inp.vcf)
    _h, refs, first = read_bam_header(inp.bam)
    names = [r[0] for r in refs]
    vcf_splits = [(s, min(s + DEFAULT_SPLIT, vcf_len)) for s in range(0, vcf_len, DEFAULT_SPLIT)]
    bai_t, bai_frac, tbi_t, tbi_frac, kept_frac = [], [], [], [], []
    kept = decoded = 0
    for contig, a, b in regs:
        t0 = time.perf_counter()
        vr = voffset_ranges_for_intervals(parse_bai(inp.bam + ".bai"), [(names.index(contig), a, b)])
        bai_t.append(time.perf_counter() - t0)
        bai_frac.append(sum((v >> 16) - (u >> 16) for u, v in vr) / bam_len)
        t0 = time.perf_counter()
        fr = file_ranges_for_intervals(parse_tabix(inp.vcf + ".tbi"), [(contig, a, b)])
        tbi_t.append(time.perf_counter() - t0)
        tbi_frac.append(sum(e - s for s, e in fr) / vcf_len)
        splits = prune_splits(vcf_splits, fr)
        kept_frac.append(sum(e - s for s, e in splits) / vcf_len)
        decoded += sum(
            1 for _ in records_for_split(
                inp.bam, 0, bam_len, names, len(names), first, None, bai_ranges=vr
            )
        )
        with open(inp.vcf, "rb") as fh:
            decoded += sum(
                1 for s, e in splits for x in iter_lines_in_range(fh, s, e)
                if not x.startswith(b"#")
            )
        kept += gen.overlap_count("bam", lay, sz, contig, a, b)
        kept += gen.overlap_count("vcf", lay, sz, contig, a, b)

    return {
        "bai.query_s": median(bai_t),
        "bai.bytes_frac": sum(bai_frac) / len(bai_frac),
        "tabix.query_s": median(tbi_t),
        "tabix.chunk_bytes_frac": sum(tbi_frac) / len(tbi_frac),
        "vcf.bytes_read_frac": sum(kept_frac) / len(kept_frac),
        "interval.rows_kept_frac": kept / decoded if decoded else float("nan"),
    }


def merger(inputs: gen.Inputs, work: str, parts: int) -> float:
    """Serial, in-process ``merge_parts`` of the BAM cut into ``parts``."""
    from disq_original_spark.sources.merger import merge_parts

    tmp = os.path.join(work, "merge-probe")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(inputs.bam, "rb") as fh:
        data = fh.read()
    step = -(-len(data) // parts)
    for i in range(parts):
        with open(os.path.join(tmp, f"part-{i:05d}"), "wb") as out:
            out.write(data[i * step : (i + 1) * step])
    t0 = time.perf_counter()
    merge_parts(tmp, os.path.join(work, "merged.bin"))
    dt = time.perf_counter() - t0
    os.remove(os.path.join(work, "merged.bin"))
    return dt
