"""Every snapshot table is written with exactly its declared layout: one
part writer (sources.catalog.write_part) lands every data and tombstone
file of the crawl's tables, so each committed file reads back with its
declared DDL types and the URL tables keep their prefix-delta url column —
including files written by compaction and by ``forget``'s tombstones."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
from etlpy_spark.sources.catalog import TableLayout, parquet_files, write_part
from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

WEB = WebConfig(n_hosts=6, n_cats=3, pages_per_cat=12, politeness_budget=2, skew_host0=3)


def test_write_part_twice_leaves_one_file(tmp_path):
    """A re-run of the same partition replaces its own output: one file,
    the same (sorted) rows, no tmp leftover."""
    layout = TableLayout("url string, round int", sort=("url",),
                         encodings={"url": "DELTA_BYTE_ARRAY"})
    path = str(tmp_path / "part-00000.parquet")
    cols = {"url": ["http://b/", "http://a/", "http://c/"], "round": [1, 2, 3]}
    assert write_part(layout, cols, path) == 3
    first = pq.read_table(path)
    assert write_part(layout, cols, path) == 3
    assert os.listdir(tmp_path) == ["part-00000.parquet"]
    again = pq.read_table(path)
    assert again.equals(first)
    assert again.column("url").to_pylist() == ["http://a/", "http://b/", "http://c/"]
    assert again.column("round").to_pylist() == [2, 1, 3]
    assert again.schema.equals(layout.pa_schema())


def test_write_part_streams_chunks_into_one_file(tmp_path):
    """An iterable of chunks lands as ONE file, one row group per chunk,
    rows in chunk order, through the same tmp + rename rule."""
    layout = TableLayout("k string, v long")
    path = str(tmp_path / "part-00000.parquet")
    chunks = [
        {"k": ["a", "b"], "v": [1, 2]},
        pd.DataFrame({"k": ["c", "d", "e"], "v": [3, 4, 5]}),
        {"k": ["f"], "v": [6]},
    ]
    assert write_part(layout, iter(chunks), path) == 6
    assert os.listdir(tmp_path) == ["part-00000.parquet"]
    md = pq.ParquetFile(path).metadata
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [2, 3, 1]
    t = pq.read_table(path)
    assert t.column("k").to_pylist() == list("abcdef")
    assert t.column("v").to_pylist() == [1, 2, 3, 4, 5, 6]


def test_write_part_failing_chunks_leave_nothing(tmp_path):
    """Chunks that raise after the first one reached the tmp file leave
    neither the target nor a tmp file behind."""
    layout = TableLayout("k string, v long")
    path = str(tmp_path / "part-00000.parquet")

    def chunks():
        yield {"k": ["a"], "v": [1]}
        raise RuntimeError("task died mid-write")

    with pytest.raises(RuntimeError, match="mid-write"):
        write_part(layout, chunks(), path)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []


def _committed_files(table) -> list[tuple[str, bool]]:
    """(file, is_tombstone) for every file any snapshot of ``table``
    references."""
    out = set()
    for snap in table.history():
        for d in snap.data_dirs:
            out.update((f, False) for f in parquet_files(d))
        for e in snap.delete_dirs or []:
            out.update((f, True) for f in parquet_files(e["dir"]))
    return sorted(out)


def test_every_file_has_its_declared_layout(spark, tmp_path):
    cr = SparkCrawler(spark, str(tmp_path / "crawl"), CrawlConfig(web=WEB))
    cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
    cr.run_round()
    assert cr.forget(sorted(cr.seen_urls_list())[:20]) == 20
    cr.run_round()

    # the crawl exercised a frontier compaction and seen tombstones
    modes = [s.mode for s in cr.frontier.history()]
    assert "overwrite" in modes[1:]
    assert any(s.delete_dirs for s in cr.seen.history())

    tables = {
        "frontier": cr.frontier, "seen": cr.seen, "crawl_log": cr.log,
        "metrics": cr.metrics, "images": cr.images,
        "seen_bits": cr.seen_bits.table, "image_bits": cr.image_bits.table,
    }
    # one landing rule: every images data dir holds flat part files only
    for snap in cr.images.history():
        for d in snap.data_dirs:
            names = os.listdir(d)
            assert names and all(
                n.startswith("part-") and n.endswith(".parquet")
                and os.path.isfile(os.path.join(d, n)) for n in names
            ), (d, names)
    for name, table in tables.items():
        files = _committed_files(table)
        assert files, name
        for f, tomb in files:
            layout = table.layout.tombstones("url") if tomb else table.layout
            schema = pq.read_schema(f)
            assert schema.equals(layout.pa_schema()), (name, f, schema)
            if name in ("frontier", "seen", "crawl_log"):
                md = pq.ParquetFile(f).metadata
                col = schema.names.index("url")
                # an empty file has no data page to encode
                for rg in range(md.num_row_groups):
                    if not md.row_group(rg).num_rows:
                        continue
                    encs = md.row_group(rg).column(col).encodings
                    assert "DELTA_BYTE_ARRAY" in encs, (name, f, encs)


def test_each_new_url_is_written_once(spark, tmp_path):
    """The seen table and the frontier share their new-URL files: the
    frontier's seed and per-round appends are the seen table's data dirs
    (not copies), and every data dir the frontier owns is compaction
    output."""
    cr = SparkCrawler(spark, str(tmp_path / "crawl"), CrawlConfig(web=WEB))
    cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
    for _ in range(2):
        cr.run_round()
        appends = [s for s in cr.frontier.history() if s.mode == "append"]
        seen_newest = cr.seen.snapshot(cr.seen.current_version()).data_dirs[-1]
        assert appends[-1].data_dirs[-1] == seen_newest

    history = cr.frontier.history()
    seen_dirs = {s.data_dirs[-1] for s in cr.seen.history()}
    referenced = {d for s in history for d in s.data_dirs}
    own = {d for d in referenced if d.startswith(cr.frontier.path + os.sep)}
    assert own == {s.data_dirs[0] for s in history if s.mode == "overwrite"}
    assert referenced - own == seen_dirs
