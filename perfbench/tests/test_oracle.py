"""The closed-form overlap oracle against brute-force counts over the
records the generator actually makes (tiny sizes, no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen


def _records(seed: int, sz: gen.Sizes):
    lay = gen.layout(seed, sz)
    refs = gen.reference(seed, lay)
    reads, variants = {}, {}
    for c, name in enumerate(lay.names):
        r = gen._contig_reads(seed, sz, lay, refs, c)
        reads[name] = [(p, p + gen.READ_LEN - 1) for p in r["pos"]]
        v = gen._contig_variants(seed, sz, lay, refs, c)
        variants[name] = [(p, p + len(ref) - 1) for p, ref in zip(v["pos"], v["ref"])]
    return lay, reads, variants


def _brute(spans, a: int, b: int) -> int:
    return sum(1 for s, e in spans if s <= b and e >= a)


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_overlap_count_matches_brute_force(seed):
    sz = gen.TINY
    lay, reads, variants = _records(seed, sz)
    regions = gen.regions(seed, lay, sz, 200)
    rng = np.random.default_rng(seed)
    # plus regions hugging record edges and contig ends
    for c, name in enumerate(lay.names):
        for s, e in reads[name][:3] + reads[name][-3:] + variants[name][:3] + variants[name][-3:]:
            for d in (-1, 0, 1):
                regions += [(name, s + d, s + d), (name, e + d, e + d + int(rng.integers(0, 500)))]
        regions += [(name, 1, lay.lengths[c]), (name, lay.lengths[c] - 10, lay.lengths[c])]
    empty = 0
    for contig, a, b in regions:
        for kind, spans in (("bam", reads), ("vcf", variants)):
            want = _brute(spans[contig], a, b)
            assert gen.overlap_count(kind, lay, sz, contig, a, b) == want, (kind, contig, a, b)
        empty += _brute(reads[contig], a, b) == 0
    assert empty > 0  # some regions hold no data


def test_regions_are_seeded():
    sz = gen.Sizes()
    lay = gen.layout(3, sz)
    assert gen.regions(3, lay, sz, 50) == gen.regions(3, lay, sz, 50)
    assert gen.regions(3, lay, sz, 50) != gen.regions(4, lay, sz, 50)
    widths = [b - a + 1 for _c, a, b in gen.regions(3, lay, sz, 500)]
    assert 1000 <= min(widths) and max(widths) <= 100_000
    # every seed gets the same mix of widths
    assert widths == [b - a + 1 for _c, a, b in gen.regions(4, gen.layout(4, sz), sz, 500)]
