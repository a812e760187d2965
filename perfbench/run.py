"""Genomics IO benchmark for disq_original_spark.

    python3 perfbench/run.py --workload full_scan --seed 1 --seconds 25 --trace 0

Generates seeded BAM / CRAM 3.0 / BGZF VCF inputs with the repository's own
sinks (cached under perfbench/.work, one set per input variant and sizes),
then drives only the public API on local[<cores>] from this one process:

- full_scan      whole-file checksums of the three inputs at explicit splits;
- region_lookup  a closed loop of small region lookups, one client.

Every answer is checked: scan checksums against the generator's own Spark
frames, lookups against closed-form overlap counts.  The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics of perfbench/layers.json with --trace 1.  The line before
it carries the design's metric names (records per second, lookup tail,
failure share, peak RSS).  The exit code is 0 only when every answer was right.

--tiny runs on minute inputs, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import dataclasses
import itertools
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

# end-to-end metric -> unit, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "bam_op_p50_s": "s",
    "vcf_op_p50_s": "s",
}
TASKS_PER_CORE = 2  # scan split size = file size / (TASKS_PER_CORE * cores)
# Warm-up operations per format.  The first operation of a format in a fresh
# session runs 2-3x slower (code generation, class loading, worker imports);
# the second VCF parse still runs about 20% slower than steady.
WARMUP = {"bam": 1, "cram": 1, "vcf": 2}
# Inputs come in INPUT_VARIANTS seeded variants (seed mod INPUT_VARIANTS):
# generating one set takes about half a minute, so a checkout makes few.
INPUT_VARIANTS = 2


def _session_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }


def start_session(cores: int):
    from disq_original_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=_session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Start a Python worker on every core and load, in each, the Arrow
    transfer path (pandas, pyarrow) and the source modules: the sources run
    their tasks through mapInPandas, whose first use in a fresh session
    costs several seconds."""

    def load(batches):
        import disq_original_spark.sources.bam  # noqa: F401
        import disq_original_spark.sources.cram  # noqa: F401
        import disq_original_spark.sources.vcf  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(load, "id long").count()


def stop_session() -> None:
    """Stop Spark, if it runs, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def instrument(tracer) -> None:
    """Spans around each layer's entry points that run in this process."""
    from disq_original_spark.operators import interval
    from disq_original_spark.sources import arrow_xfer, bai, merger, tabix
    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.cram import CramSink, CramSource
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    for owner, attr, name in [
        (BamSource, "read", "bam.read"),
        (CramSource, "read", "cram.read"),
        (VcfSource, "read", "vcf.read"),
        (BamSink, "write", "bam.write"),
        (CramSink, "write", "cram.write"),
        (VcfSink, "write", "vcf.write"),
        (bai, "parse_bai", "bai.parse_bai"),
        (bai, "voffset_ranges_for_intervals", "bai.voffset_ranges_for_intervals"),
        (tabix, "parse_tabix", "tabix.parse_tabix"),
        (tabix, "file_ranges_for_intervals", "tabix.file_ranges_for_intervals"),
        (tabix, "prune_splits", "tabix.prune_splits"),
        (interval, "residual_traversal", "interval.residual_traversal"),
        (interval, "residual_variant_overlap", "interval.residual_variant_overlap"),
        (arrow_xfer, "foreach_partition_arrow", "arrow_xfer.foreach_partition_arrow"),
        (merger, "merge_parts", "merger.merge_parts"),
    ]:
        tracer.instrument(owner, attr, name)
    tracer.instrument(
        arrow_xfer, "rows_to_dataframe", "arrow_xfer.rows_to_dataframe",
        note=lambda a, kw: len(a[1]),
    )


def layer_metrics(ctx, tracer, counts, setup, trace_walls) -> dict[str, float]:
    from perfbench import probes
    from perfbench.measure import median

    spans = tracer.spans

    def planned_tasks(parent: str) -> list[float]:
        return [
            s["note"] for s in spans
            if s["name"] == "arrow_xfer.rows_to_dataframe" and s["parent"] is not None
            and spans[s["parent"]]["name"] == parent
        ]

    merges = tracer.durations("merger.merge_parts")
    out = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "bam.plan_s": median(tracer.durations("bam.read")),
        "bam.tasks": median(planned_tasks("bam.read")),
        "vcf.plan_s": median(tracer.durations("vcf.read")),
        "spark.jobs_per_op": median(c[0] for c in counts),
        "spark.tasks_per_op": median(c[1] for c in counts),
        "spark.failed_tasks": float(sum(c[2] for c in counts)),
        "merger.merge_s": median(merges) if merges else probes.merger(
            ctx.inputs, ctx.work, ctx.sizes.write_parts
        ),
        "trace.overhead_s": median(trace_walls[True]) - median(trace_walls[False]),
    }
    out.update(probes.indexes(ctx))
    out.update(probes.bgzf_and_bam_codec(ctx.inputs))
    out.update(probes.cram_codecs(ctx.inputs))
    out.update(probes.vcf_layers(ctx.spark, ctx.inputs))
    out.update(probes.arrow_xfer(ctx.spark, ctx.inputs, ctx.split["bam"]))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["full_scan", "region_lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="minute inputs (smoke tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "disq_original_spark" / "__init__.py").is_file():
        print(f"perfbench: no disq_original_spark package in {ROOT}", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # the Python workers import the package and perfbench from the repo root,
    # whatever the working directory
    sys.path.insert(0, str(ROOT))
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM started here (the spark-submit launcher too) keeps its
    # temporary files in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}", os.environ.get("JAVA_TOOL_OPTIONS", "")]
    ).strip()
    try:
        lines, code = bench(args)
    finally:
        stop_session()
    # printed once every process this run started has ended, so nothing
    # can follow the result line
    for line in lines:
        print(line)
    return code


def bench(args) -> tuple[list[str], int]:
    """Set up, run and check the workload; returns the output lines (the
    result last) and the exit code."""
    from perfbench import gen, measure, workloads

    cores = len(os.sched_getaffinity(0))
    sizes = gen.TINY if args.tiny else gen.Sizes(write_parts=TASKS_PER_CORE * cores)
    cache = str(WORK / "inputs")
    file_seed = args.seed % INPUT_VARIANTS
    clock = time.perf_counter

    # Inputs missing from the cache are generated by a process of its own:
    # this one then starts from the same cold state on every run.
    t0 = clock()
    if gen.load_cached(cache, file_seed, sizes) is None:
        subprocess.run(
            [sys.executable, "-m", "perfbench.gen", cache, str(file_seed),
             json.dumps(dataclasses.asdict(sizes)), str(INPUT_VARIANTS)],
            check=True, stdout=sys.stderr,
        )
    gen_s = clock() - t0

    # -- set-up: session start (a cold JVM), Python-worker warm-up and
    #    input verification
    t0 = clock()
    spark = start_session(cores)
    t_start = clock() - t0
    t0 = clock()
    warm_workers(spark, cores)
    t_warm = clock() - t0
    t0 = clock()
    inputs = gen.load_cached(cache, file_seed, sizes)
    if inputs is None:
        raise RuntimeError("generated inputs failed verification")
    setup = {"start_s": t_start, "warm_s": t_warm, "verify_s": clock() - t0}
    split = {
        k: -(-os.path.getsize(getattr(inputs, k)) // (TASKS_PER_CORE * cores))
        for k in workloads.KINDS
    }

    ctx = workloads.Context(spark, inputs, sizes, file_seed, split, str(WORK))
    tracer = measure.Tracer()
    if args.trace:
        instrument(tracer)
    counter = measure.JobCounter(spark.sparkContext)
    attempted = failed = 0
    ops = workloads.WORKLOADS[args.workload](ctx)

    def check(r):
        nonlocal attempted, failed
        attempted += 1
        if not r.ok:
            failed += 1
            print(f"perfbench: {args.workload} {r.kind} failed: {r.detail}", file=sys.stderr)
        return r

    def run_op(kind: str, op, tag: str):
        tracer.op = tag
        with tracer.span(f"op.{kind}"):
            return check(op(counter))

    # Warm-up, checked and discarded: the first operation of each format,
    # all at once so that their first-use costs overlap; then the pass's
    # operations in order, each format until it has run WARMUP[format] times.
    first = {kind: op for kind, op in reversed(ops)}
    with concurrent.futures.ThreadPoolExecutor(len(first)) as pool:
        warm = [check(r) for r in pool.map(lambda op: op(counter), first.values())]
    for j in itertools.count():
        kind, op = ops[j % len(ops)]
        if all(sum(r.kind == k for r in warm) >= WARMUP[k] for k, _op in ops):
            break
        if sum(r.kind == kind for r in warm) < WARMUP[kind]:
            warm.append(run_op(kind, op, f"w{j}"))
    first_group = len(counter.groups)

    # Measured: operations in pass order until --seconds of them are timed
    # and every pass position has a sample.  An untraced run may stop after
    # any operation; a traced run alternates traced and untraced passes and
    # stops only after whole passes, one of each kind at least.
    samples: list[list[float]] = [[] for _ in ops]  # untraced seconds per pass position
    walls: dict[bool, list[float]] = {True: [], False: []}  # whole passes
    passes: list[tuple[bool, list]] = []
    measured = 0.0

    def enough() -> bool:
        return measured >= args.seconds and all(samples) and (not args.trace or bool(walls[True]))

    with measure.RssSampler() as rss:
        while not enough():
            traced = bool(args.trace) and len(passes) % 2 == 0
            tracer.enabled = traced
            res = []
            for j, (kind, op) in enumerate(ops):
                res.append(run_op(kind, op, f"p{len(passes)}.{j}"))
                measured += res[-1].seconds
                if not traced:
                    samples[j].append(res[-1].seconds)
                if not args.trace and enough():
                    break
            tracer.enabled = False
            passes.append((traced, res))
            if len(res) == len(ops):
                walls[traced].append(sum(r.seconds for r in res))

    # A pass position's latency is the median of its samples.  A format's
    # p50 is the median over its positions (over the region mix, for
    # lookups), and wall_s, the time of one pass, sums all positions: both
    # use every sample, whole passes or not.
    pos_p50 = [measure.median(x) for x in samples]
    kind_p50 = {
        k: measure.median(p for p, (kind, _op) in zip(pos_p50, ops) if kind == k)
        for k in workloads.KINDS if any(kind == k for kind, _op in ops)
    }
    untraced_ops = [r for traced, res in passes if not traced for r in res]

    if args.trace:
        counts = counter.counts()[first_group:]
        metrics = layer_metrics(ctx, tracer, counts, setup, walls)
        layers = json.loads((HERE / "layers.json").read_text())["metrics"]
        result_metrics = {k: {"value": metrics[k], "unit": layers[k]["unit"]} for k in layers}
        tracer.dump(str(WORK / "traces" / f"{args.workload}-s{args.seed}.json"))
    else:
        e2e = {
            "setup_s": sum(setup.values()),
            "wall_s": sum(pos_p50),
            "bam_op_p50_s": kind_p50["bam"],
            "vcf_op_p50_s": kind_p50["vcf"],
        }
        result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    info = design_metrics(args.workload, sizes, kind_p50, untraced_ops, attempted, failed)
    if args.trace:  # each layer metric tagged with what it should move, and where
        info["layers"] = {
            k: {"value": metrics[k], "moves": m["moves"], "most": m["most"], "little": m["little"]}
            for k, m in layers.items()
        }
    # peak_rss_mb is not an end-to-end metric of BENCHMARK.json: G1's
    # adaptive heap sizing moves it by up to a third between runs of the
    # same code, more than any bound allows
    info["peak_rss_mb"] = rss.peak_mb
    info.update(workload=args.workload, seed=args.seed, cores=cores, gen_s=gen_s,
                setup=setup, warmup=[round(r.seconds, 3) for r in warm],
                passes=[[round(r.seconds, 3) for r in res] for _t, res in passes])

    bad = [k for k, v in result_metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: no value for {bad}", file=sys.stderr)
        failed += 1
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: v for k, v in result_metrics.items() if k not in bad},
    }
    return [json.dumps({"info": info}), json.dumps(result)], 0 if failed == 0 else 1


def design_metrics(workload, sizes, p50, ops, attempted, failed) -> dict:
    """The design's metric names, derived from the same untraced samples."""
    from perfbench.measure import tail

    out: dict = {"failed_frac": failed / attempted if attempted else 1.0}
    if workload == "region_lookup":
        out["bam_lookup_p50_s"] = p50["bam"]
        out["vcf_lookup_p50_s"] = p50["vcf"]
        out["lookups_per_s"] = len(ops) / sum(r.seconds for r in ops)
        t = tail([r.seconds for r in ops])
        out["lookup_tail_s"], out["lookup_tail_pct"] = t or (None, None)
        out["lookup_tail_n"] = len(ops)
    else:
        reads = sizes.contigs * sizes.reads_per_contig
        out["bam_reads_per_s"] = reads / p50["bam"]
        out["cram_reads_per_s"] = reads / p50["cram"]
        out["vcf_records_per_s"] = sizes.contigs * sizes.variants_per_contig / p50["vcf"]
    return out


if __name__ == "__main__":
    sys.exit(main())
