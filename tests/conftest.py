from __future__ import annotations

import os
import sys
import types

import pytest

REFERENCE_DIR = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    from etlpy_spark.session import get_spark

    s = get_spark(app_name="etlpy_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def rebuilds(monkeypatch):
    """The state-table path of every ``FilterState.rebuild_from`` call the
    test makes, in call order."""
    from etlpy_spark.crawl.filterstate import FilterState

    calls = []
    rebuild_from = FilterState.rebuild_from

    def counting_rebuild(self, keys_df, key_col):
        calls.append(self.table.path)
        return rebuild_from(self, keys_df, key_col)

    monkeypatch.setattr(FilterState, "rebuild_from", counting_rebuild)
    return calls


@pytest.fixture(scope="session")
def reference():
    """Import the reference engine (read-only oracle for differential tests).

    The reference's spider.py imports lxml/chardet at module top; neither is
    installed, and the operators we differentially test never touch them —
    inject inert stubs so `import etl` succeeds. Skips when the checkout's
    modules are not under REFERENCE_DIR; a checkout that is there but does
    not import still fails.
    """
    paths = [os.path.join(REFERENCE_DIR, f) for f in ("etl.py", "extends.py", "spider.py")]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        pytest.skip(f"reference checkout absent: {', '.join(missing)} not found")
    for name in ("lxml", "lxml.etree", "chardet"):
        if name not in sys.modules:
            mod = types.ModuleType(name)
            if name == "lxml":
                mod.etree = types.ModuleType("lxml.etree")
            if name == "chardet":
                mod.detect = lambda b: {"encoding": "utf-8"}
            sys.modules[name] = mod
    if REFERENCE_DIR not in sys.path:
        sys.path.insert(0, REFERENCE_DIR)
    import etl  # noqa: F401
    import extends  # noqa: F401

    return types.SimpleNamespace(etl=etl, extends=extends)


def rows_as_dicts(df, drop_nulls: bool = True) -> list[dict]:
    """Normalize Spark rows for multiset comparison with reference dict
    streams: NULL ≡ absent key (SURVEY §1.4 mapping)."""
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        d.pop("__ord__", None)
        if drop_nulls:
            d = {k: v for k, v in d.items() if v is not None}
        out.append(d)
    return out


def run_reference_tools(reference, tools, seed=None, patch_merge=True):
    """Run a reference tool chain and collect its dict stream.

    ``patch_merge=True`` repairs the reference's Generator Merge dispatch
    (etl.py:121 calls the dict-merge extends.Merge on two generators, which
    crashes; the intended zip is extends.MergeAll, itself broken under
    PEP 479 in py>=3.7). The repaired zip preserves the intended semantics:
    positional zip, right keys override, length = min."""
    ext = reference.extends
    etl = reference.etl
    orig = ext.Merge

    def fixed_merge(a, b):
        for t1, t2 in zip(a, b):
            if t2 is not None:
                for k in t2:
                    t1[k] = t2[k]
            yield t1

    if patch_merge:
        ext.Merge = fixed_merge
    try:
        gen = etl.generate(tools, seed, execute=False)
        return [dict(r) for r in gen]
    finally:
        ext.Merge = orig
