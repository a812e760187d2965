"""The workloads: each is a fixed list of (format, operation) pairs, one
pass, that the runner repeats for the measured time.  Every operation goes
through the public API only and checks its own answer."""

from __future__ import annotations

import time
from dataclasses import dataclass

from . import gen

KINDS = ("bam", "cram", "vcf")


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    detail: str = ""


@dataclass
class Context:
    spark: object
    inputs: gen.Inputs
    sizes: gen.Sizes
    seed: int  # the input variant's seed: files and lookup regions
    split: dict[str, int]
    work: str


def _timed(fn) -> tuple[float, object, str]:
    t0 = time.perf_counter()
    try:
        out, err = fn(), ""
    except Exception as e:  # an operation that raises counts as failed
        out, err = None, f"{type(e).__name__}: {e}"
    return time.perf_counter() - t0, out, err


# ------------------------------------------------------------------ full_scan


def scan_ops(ctx: Context):
    """Whole-file checksum of the BAM (boundary-guessed splits), the CRAM 3.0
    (rANS + reference diffs) and the BGZF VCF, at explicit split sizes."""
    from disq_original_spark.storage import ReadsStorage, VariantsStorage

    inp, spark = ctx.inputs, ctx.spark
    readers = {
        "bam": lambda: ReadsStorage(spark, split_size=ctx.split["bam"]).read(inp.bam),
        "cram": lambda: ReadsStorage(
            spark, reference_path=inp.fasta, split_size=ctx.split["cram"]
        ).read(inp.cram),
        "vcf": lambda: VariantsStorage(spark, split_size=ctx.split["vcf"]).read(inp.vcf),
    }

    def make(kind):
        def op(counter) -> Op:
            counter.begin(kind)
            dt, got, err = _timed(lambda: gen.frame_checksum(readers[kind](), kind))
            counter.end()
            ok = not err and got == inp.expected(kind)
            return Op(kind, dt, ok, err or ("" if ok else f"checksum {got}"))

        return op

    return [(k, make(k)) for k in KINDS]


# ------------------------------------------------------------------ region_lookup


def lookup_regions(ctx: Context) -> list[tuple[str, int, int]]:
    """The regions of one region_lookup pass: the same for every pass and
    every run of an input variant, one of each width in gen.REGION_WIDTHS."""
    return gen.regions(ctx.seed, gen.layout(ctx.seed, ctx.sizes), ctx.sizes, len(gen.REGION_WIDTHS))


def lookup_ops(ctx: Context):
    """Closed loop, one client: each region of the pass is looked up in the
    BAM (.bai) and then in the VCF (.tbi), at the sources' default split
    sizes.  Answers are checked against the closed-form overlap count."""
    from disq_original_spark.storage import ReadsStorage, VariantsStorage

    inp, spark = ctx.inputs, ctx.spark
    lay = gen.layout(ctx.seed, ctx.sizes)
    readers = {
        "bam": lambda iv: ReadsStorage(spark).read(inp.bam, intervals=iv),
        "vcf": lambda iv: VariantsStorage(spark).read(inp.vcf, intervals=iv),
    }

    def make(kind, contig, a, b):
        want = gen.overlap_count(kind, lay, ctx.sizes, contig, a, b)

        def run():
            iv = spark.createDataFrame([(contig, a, b)], "contig string, start long, end long")
            return readers[kind](iv).count()

        def op(counter) -> Op:
            counter.begin(kind)
            dt, got, err = _timed(run)
            counter.end()
            ok = not err and got == want
            return Op(kind, dt, ok, err or ("" if ok else f"{contig}:{a}-{b} got {got} want {want}"))

        return op

    return [(k, make(k, *r)) for r in lookup_regions(ctx) for k in ("bam", "vcf")]


WORKLOADS = {"full_scan": scan_ops, "region_lookup": lookup_ops}
