"""Seeded input generator and closed-form answer oracle.

Every input is a pure function of ``(seed, sizes)``:

- a reference FASTA (+ ``.fai``) of random bases, one record per contig;
- coordinate-sorted 150 bp reads placed at evenly spaced positions
  ``offset + k * step`` on each contig, copied from the reference with about
  1% substitutions, written as BAM (+ ``.bai``, no ``.sbi``) and as
  CRAM 3.0 (+ ``.crai``) through the repository's own sinks;
- single-base variants at ``offset + k * step`` written as BGZF VCF
  (+ ``.tbi``) through ``VcfSink``.

Because positions are arithmetic progressions, the number of records
overlapping any region has a closed form (``overlap_count``), which is the
oracle the region lookups are checked against.  Scan checksums come from
the generator's own Spark frames (``frame_checksum``), never from a decoder.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np

READ_LEN = 150
SUB_RATE = 0.01
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
GEN_VERSION = 1  # bump when the generated bytes change for a given seed


@dataclass(frozen=True)
class Sizes:
    contigs: int = 2
    reads_per_contig: int = 30000
    read_step: int = 40
    variants_per_contig: int = 24000
    variant_step: int = 50
    samples: int = 4
    empty_tail: int = 200_000  # uncovered bases after the data on each contig
    write_parts: int = 8  # sink partitions = CRAM containers = BAM/VCF parts

    def key(self) -> str:
        return hashlib.sha1(
            json.dumps([GEN_VERSION, asdict(self)], sort_keys=True).encode()
        ).hexdigest()[:10]


TINY = Sizes(
    contigs=2, reads_per_contig=600, read_step=40, variants_per_contig=500,
    variant_step=50, samples=2, empty_tail=20_000, write_parts=4,
)


@dataclass(frozen=True)
class Layout:
    """Per-contig arithmetic of where records sit (1-based positions)."""

    names: tuple[str, ...]
    lengths: tuple[int, ...]
    read_off: tuple[int, ...]
    var_off: tuple[int, ...]


def layout(seed: int, sz: Sizes) -> Layout:
    rng = np.random.default_rng([seed, 0])
    names, lengths, roff, voff = [], [], [], []
    for c in range(sz.contigs):
        r0 = int(rng.integers(1, 5000))
        v0 = int(rng.integers(1, 5000))
        data_end = max(
            r0 + sz.reads_per_contig * sz.read_step + READ_LEN,
            v0 + sz.variants_per_contig * sz.variant_step,
        )
        names.append(f"chr{c + 1}")
        lengths.append(data_end + sz.empty_tail)
        roff.append(r0)
        voff.append(v0)
    return Layout(tuple(names), tuple(lengths), tuple(roff), tuple(voff))


def data_end(lay: Layout, sz: Sizes, c: int) -> int:
    """Last base any record on contig ``c`` covers."""
    return max(
        lay.read_off[c] + (sz.reads_per_contig - 1) * sz.read_step + READ_LEN - 1,
        lay.var_off[c] + (sz.variants_per_contig - 1) * sz.variant_step,
    )


def reference(seed: int, lay: Layout) -> list[np.ndarray]:
    rng = np.random.default_rng([seed, 1])
    return [BASES[rng.integers(0, 4, n)] for n in lay.lengths]


# ------------------------------------------------------------------ oracle


def _ap_overlap(off: int, step: int, n: int, span: int, a: int, b: int) -> int:
    """Records k in [0, n) covering [off + k*step, off + k*step + span - 1]
    that overlap the closed region [a, b]."""
    kmax = min(n - 1, (b - off) // step)
    kmin = max(0, -(-(a - span + 1 - off) // step))  # ceil division
    return max(0, kmax - kmin + 1)


def overlap_count(
    kind: str, lay: Layout, sz: Sizes, contig: str, a: int, b: int
) -> int:
    """Closed-form number of reads (``kind='bam'``) or variants
    (``kind='vcf'``) overlapping ``contig:a-b`` (1-based, inclusive)."""
    if contig not in lay.names:
        return 0
    c = lay.names.index(contig)
    if kind == "vcf":
        return _ap_overlap(lay.var_off[c], sz.variant_step, sz.variants_per_contig, 1, a, b)
    return _ap_overlap(lay.read_off[c], sz.read_step, sz.reads_per_contig, READ_LEN, a, b)


# Region widths, in this order; the last of every four starts in the
# uncovered tail of its contig, so it holds no data.
REGION_WIDTHS = (1_000, 100_000, 10_000, 3_000)


def regions(seed: int, lay: Layout, sz: Sizes, n: int) -> list[tuple[str, int, int]]:
    """``n`` seeded regions ``(contig, start, end)`` with widths cycling
    through ``REGION_WIDTHS``; only contigs and start positions follow the
    seed, so every seed gets the same mix of widths and empty regions."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n):
        c = int(rng.integers(0, sz.contigs))
        width = REGION_WIDTHS[i % len(REGION_WIDTHS)]
        end_data = data_end(lay, sz, c)
        if i % len(REGION_WIDTHS) == len(REGION_WIDTHS) - 1:
            lo, hi = end_data + 1, lay.lengths[c] - width
        else:
            lo, hi = 1, max(2, end_data - width // 2)
        a = int(rng.integers(lo, max(lo + 1, hi)))
        out.append((lay.names[c], a, a + width - 1))
    return out


# ------------------------------------------------------------------ frames


def _contig_reads(seed: int, sz: Sizes, lay: Layout, refs, c: int):
    import pandas as pd

    rng = np.random.default_rng([seed, 3, c])
    k = np.arange(sz.reads_per_contig)
    pos = lay.read_off[c] + k * sz.read_step
    idx = (pos - 1)[:, None] + np.arange(READ_LEN)[None, :]
    seq = refs[c][idx]
    sub = rng.random(seq.shape) < SUB_RATE
    code = np.searchsorted(BASES, seq)
    alt = BASES[(code + rng.integers(1, 4, seq.shape)) % 4]
    seq = np.where(sub, alt, seq)
    qual = (rng.integers(2, 41, seq.shape) + 33).astype(np.uint8)
    rev = rng.random(len(k)) < 0.5
    return pd.DataFrame(
        {
            "qname": [f"r{seed}.{c}.{x}" for x in k],
            "flag": np.where(rev, 16, 0).astype(np.int32),
            "rname": lay.names[c],
            "pos": pos.astype(np.int64),
            "mapq": np.int32(60),
            "cigar": f"{READ_LEN}M",
            "rnext": None,
            "pnext": np.int64(0),
            "tlen": np.int64(0),
            "seq": [r.tobytes().decode() for r in seq],
            "qual": [r.tobytes().decode() for r in qual],
            "nm": sub.sum(axis=1).astype(np.int32),
        }
    )


def _contig_variants(seed: int, sz: Sizes, lay: Layout, refs, c: int):
    import pandas as pd

    rng = np.random.default_rng([seed, 4, c])
    k = np.arange(sz.variants_per_contig)
    pos = lay.var_off[c] + k * sz.variant_step
    ref = refs[c][pos - 1]
    alt = BASES[(np.searchsorted(BASES, ref) + rng.integers(1, 4, len(k))) % 4]
    gt = rng.integers(0, 3, (len(k), sz.samples))
    gt_s = np.array(["0/0", "0/1", "1/1"])[gt]
    dp = rng.integers(5, 60, (len(k), sz.samples))
    out = {
        "contig": lay.names[c],
        "pos": pos.astype(np.int64),
        "id": [f"v{c}.{x}" for x in k],
        "ref": [chr(x) for x in ref],
        "alt": [chr(x) for x in alt],
        "qual": rng.integers(10, 100, len(k)).astype(np.float64),
        "dp": dp.sum(axis=1).astype(np.int64),
        "af": np.round(rng.random(len(k)), 3),
    }
    for s in range(sz.samples):
        out[f"gt{s}"] = gt_s[:, s]
        out[f"dp{s}"] = dp[:, s].astype(np.int64)
    return pd.DataFrame(out)


def _local_frame(spark, pdf, schema: str, parts: int):
    """``pdf`` as a Spark frame of ``parts`` partitions in row order (Arrow
    conversion makes one partition per batch)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(1, -(-len(pdf) // parts))))
    try:
        return spark.createDataFrame(pdf, schema)
    finally:
        spark.conf.set(key, old)


def reads_frame(spark, seed: int, sz: Sizes, lay: Layout, refs):
    """The generator's reads frame (reads schema), coordinate-sorted and cut
    into ``write_parts`` contiguous partitions."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.concat(
        [_contig_reads(seed, sz, lay, refs, c) for c in range(sz.contigs)],
        ignore_index=True,
    )
    schema = (
        "qname string, flag int, rname string, pos long, mapq int, cigar string, "
        "rnext string, pnext long, tlen long, seq string, qual string, nm int"
    )
    return _local_frame(spark, pdf, schema, sz.write_parts).select(
        "qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext", "tlen",
        "seq", "qual",
        F.create_map(F.lit("NM"), F.concat(F.lit("i:"), F.col("nm").cast("string"))).alias(
            "attributes"
        ),
    )


def variants_frame(spark, seed: int, sz: Sizes, lay: Layout, refs):
    """The generator's variants frame (variants schema), position-sorted."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.concat(
        [_contig_variants(seed, sz, lay, refs, c) for c in range(sz.contigs)],
        ignore_index=True,
    )
    cols = ["contig string", "pos long", "id string", "ref string", "alt string",
            "qual double", "dp long", "af double"]
    for s in range(sz.samples):
        cols += [f"gt{s} string", f"dp{s} long"]
    raw = _local_frame(spark, pdf, ", ".join(cols), sz.write_parts)
    genotypes = F.array(
        *[
            F.struct(
                F.lit(f"S{s}").alias("sample"),
                F.col(f"gt{s}").alias("gt"),
                F.create_map(
                    F.lit("GT"), F.col(f"gt{s}"), F.lit("DP"), F.col(f"dp{s}").cast("string")
                ).alias("attrs"),
            )
            for s in range(sz.samples)
        ]
    )
    return raw.select(
        "contig", "pos", "id", "ref",
        F.array("alt").alias("alts"),
        "qual",
        F.array().cast("array<string>").alias("filters"),
        F.create_map(
            F.lit("DP"), F.col("dp").cast("string"), F.lit("AF"), F.col("af").cast("string")
        ).alias("info"),
        genotypes.alias("genotypes"),
    )


def sam_header_text(lay: Layout) -> str:
    lines = ["@HD\tVN:1.6\tSO:coordinate"]
    lines += [f"@SQ\tSN:{n}\tLN:{ln}" for n, ln in zip(lay.names, lay.lengths)]
    return "\n".join(lines) + "\n"


def vcf_header_text(lay: Layout, sz: Sizes) -> str:
    lines = [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
    ]
    lines += [f"##contig=<ID={n},length={ln}>" for n, ln in zip(lay.names, lay.lengths)]
    lines.append(
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
                  + [f"S{s}" for s in range(sz.samples)])
    )
    return "\n".join(lines) + "\n"


# ------------------------------------------------------------------ checksums


def reads_checksum_cols():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.crc32(F.col("qname"))).alias("crc_qname"),
        F.sum(F.crc32(F.col("seq"))).alias("crc_seq"),
    ]


def variants_checksum_cols():
    from pyspark.sql import functions as F

    info = F.array_join(
        F.array_sort(
            F.transform(F.map_entries("info"), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
        ";",
    )
    gts = F.array_join(F.transform("genotypes", lambda g: g["gt"]), ",")
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.crc32(info)).alias("crc_info"),
        F.sum(F.crc32(gts)).alias("crc_gt"),
    ]


def frame_checksum(df, kind: str) -> list[int]:
    cols = reads_checksum_cols() if kind in ("bam", "cram") else variants_checksum_cols()
    row = df.agg(*cols).collect()[0]
    return [int(x or 0) for x in row]


# ------------------------------------------------------------------ files


@dataclass(frozen=True)
class Inputs:
    root: str
    fasta: str
    bam: str
    cram: str
    vcf: str
    manifest: dict

    def expected(self, kind: str) -> list[int]:
        return self.manifest["checksums"][kind]


INDEX_SUFFIX = {"bam": ".bai", "cram": ".crai", "vcf": ".tbi", "fasta": ".fai"}


def _paths(root: str) -> dict[str, str]:
    return {
        "fasta": os.path.join(root, "ref.fa"),
        "bam": os.path.join(root, "reads.bam"),
        "cram": os.path.join(root, "reads.cram"),
        "vcf": os.path.join(root, "calls.vcf.bgz"),
    }


def _write_fasta(path: str, lay: Layout, refs) -> None:
    width = 60
    fai = []
    with open(path, "wb") as fh:
        for name, seq in zip(lay.names, refs):
            fh.write(f">{name}\n".encode())
            off = fh.tell()
            raw = seq.tobytes()
            fh.write(b"\n".join(raw[i : i + width] for i in range(0, len(raw), width)) + b"\n")
            fai.append(f"{name}\t{len(raw)}\t{off}\t{width}\t{width + 1}\n")
    with open(path + ".fai", "w") as fh:
        fh.writelines(fai)


def load_cached(cache_dir: str, seed: int, sz: Sizes) -> Inputs | None:
    """The inputs for ``(seed, sizes)`` if a complete copy is on disk."""
    root = os.path.join(cache_dir, f"s{seed}-{sz.key()}")
    mpath = os.path.join(root, "manifest.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as fh:
        manifest = json.load(fh)
    paths = _paths(root)
    for kind, p in paths.items():
        for f in (p, p + INDEX_SUFFIX[kind]):
            if os.path.getsize(f) != manifest["bytes"][os.path.basename(f)]:
                return None
    return Inputs(root, paths["fasta"], paths["bam"], paths["cram"], paths["vcf"], manifest)


def generate(spark, cache_dir: str, seed: int, sz: Sizes, keep: int) -> Inputs:
    """Write the inputs for ``(seed, sizes)`` under ``cache_dir`` (reusing a
    complete earlier copy) and return their paths and expected checksums.
    At most ``keep`` input sets stay on disk."""
    cached = load_cached(cache_dir, seed, sz)
    if cached is not None:
        return cached
    from disq_original_spark.sources.bam import BamSink
    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.headers import SamHeader
    from disq_original_spark.sources.vcf import VcfSink

    os.makedirs(cache_dir, exist_ok=True)
    old = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime,
    )
    for d in old[: max(0, len(old) - keep + 1)]:
        shutil.rmtree(d, ignore_errors=True)
    root = os.path.join(cache_dir, f"s{seed}-{sz.key()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    paths = _paths(root)
    lay = layout(seed, sz)
    refs = reference(seed, lay)
    _write_fasta(paths["fasta"], lay, refs)

    reads = reads_frame(spark, seed, sz, lay, refs).cache()
    variants = variants_frame(spark, seed, sz, lay, refs).cache()
    sums = {"bam": frame_checksum(reads, "bam"), "vcf": frame_checksum(variants, "vcf")}
    sums["cram"] = sums["bam"]
    header = SamHeader.parse(sam_header_text(lay))
    BamSink().write(reads, header, paths["bam"], write_bai=True)
    CramSink().write(
        reads, header.text, paths["cram"], reference_path=paths["fasta"],
        version=(3, 0), write_index=True,
    )
    VcfSink().write(variants, vcf_header_text(lay, sz), paths["vcf"], write_index=True)
    reads.unpersist()
    variants.unpersist()

    files = [f for kind, p in paths.items() for f in (p, p + INDEX_SUFFIX[kind])]
    manifest = {
        "seed": seed,
        "sizes": asdict(sz),
        "checksums": sums,
        "bytes": {os.path.basename(f): os.path.getsize(f) for f in files},
    }
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return Inputs(root, paths["fasta"], paths["bam"], paths["cram"], paths["vcf"], manifest)


def main(argv: list[str] | None = None) -> None:
    """python3 -m perfbench.gen CACHE_DIR SEED SIZES_JSON KEEP: write one input
    set from a process (and JVM) of its own, so the measuring process starts
    in the same state whether or not its inputs had to be generated."""
    import argparse

    from perfbench.run import start_session, stop_session

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("cache_dir")
    ap.add_argument("seed", type=int)
    ap.add_argument("sizes", help="Sizes fields as JSON")
    ap.add_argument("keep", type=int)
    a = ap.parse_args(argv)
    spark = start_session(len(os.sched_getaffinity(0)))
    try:
        generate(spark, a.cache_dir, a.seed, Sizes(**json.loads(a.sizes)), a.keep)
    finally:
        stop_session()


if __name__ == "__main__":
    main()
