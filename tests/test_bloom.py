"""Vectorized seen-set filters (Bloom + cuckoo): no false negatives ever;
FPR near spec; byte round-trips (north_star: "sharded Bloom/cuckoo-filter
URL-seen set")."""

from __future__ import annotations

import numpy as np

from etlpy_spark.crawl.seen import (
    BloomFilter,
    CuckooFilter,
    filter_from_bytes,
    filter_spec,
    new_filter,
)


def test_no_false_negatives():
    bf = BloomFilter.sized_for(10_000, fpp=0.01)
    urls = [f"http://host{i % 50}.example/cat{i % 7}/p{i}" for i in range(10_000)]
    bf.add_many(urls)
    hits = bf.might_contain_many(urls)
    assert hits.all(), "bloom must never miss an added key"


def test_false_positive_rate_near_spec():
    bf = BloomFilter.sized_for(10_000, fpp=0.01)
    bf.add_many([f"u{i}" for i in range(10_000)])
    probe = np.array([f"absent-{i}" for i in range(20_000)], dtype=object)
    fpr = bf.might_contain_many(probe).mean()
    assert fpr < 0.03, f"observed FPR {fpr:.4f} should be near 1%"


def test_scalar_and_roundtrip():
    bf = BloomFilter.sized_for(100)
    bf.add_many(["a", "b"])
    assert bf.might_contain("a") and bf.might_contain("b")
    clone = BloomFilter.from_bytes(bf.to_bytes(), bf.n_bits, bf.n_hashes)
    assert clone.might_contain("a")
    assert not clone.might_contain_many(
        np.array([f"zz{i}" for i in range(64)], dtype=object)
    ).all()


def test_empty_and_determinism():
    bf = BloomFilter.sized_for(1000)
    bf.add_many([])
    assert not bf.might_contain("anything")
    b2 = BloomFilter.sized_for(1000)
    bf.add_many(["x", "y"])
    b2.add_many(["x", "y"])
    assert bytes(bf.to_bytes()) == bytes(b2.to_bytes())


# -- cuckoo filter ----------------------------------------------------------


URLS = [f"http://host{i % 50}.example/cat{i % 7}/p{i}" for i in range(10_000)]


def test_cuckoo_no_false_negatives():
    cf = CuckooFilter.sized_for(10_000, fpp=0.01)
    cf.add_many(URLS)
    assert cf.might_contain_many(URLS).all(), "cuckoo must never miss an added key"


def test_cuckoo_fpr_near_spec():
    cf = CuckooFilter.sized_for(10_000, fpp=0.01)
    cf.add_many([f"u{i}" for i in range(10_000)])
    probe = np.array([f"absent-{i}" for i in range(20_000)], dtype=object)
    fpr = cf.might_contain_many(probe).mean()
    assert fpr < 0.03, f"observed FPR {fpr:.4f} should be near 1%"


def test_cuckoo_roundtrip_and_empty():
    cf = CuckooFilter.sized_for(100)
    cf.add_many([])
    assert not cf.might_contain("anything")
    cf.add_many(["a", "b"])
    clone = CuckooFilter.from_bytes(cf.to_bytes(), cf.n_buckets, cf.fp_bits)
    assert clone.might_contain("a") and clone.might_contain("b")


def test_cuckoo_overflow_stash_keeps_contract():
    # pathologically tiny table: most inserts overflow into the stash —
    # lookups still have zero false negatives
    cf = CuckooFilter(4, 12)
    cf.add_many(URLS[:500])
    assert cf.might_contain_many(URLS[:500]).all()
    assert cf.stash  # the overflow path actually ran


def test_filter_factory_dispatch():
    for kind, cls in (("bloom", BloomFilter), ("cuckoo", CuckooFilter)):
        spec = filter_spec(kind, 5000, 0.01)
        f = new_filter(spec)
        assert isinstance(f, cls) and f.spec == spec
        f.add_many(["k1", "k2"])
        g = filter_from_bytes(spec, f.to_bytes())
        assert g.might_contain("k1") and g.might_contain("k2")
